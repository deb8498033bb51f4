"""Graph analytics pack (SURVEY.md §2.8): degrees, connected components,
PageRank, triangle counting, motif (fixed-length pattern) matching.

These are the sanctioned extension surface beyond the reference's 14
operators (the reference has no analytics at all — `/root/reference/` is an
OLTP-style CRUD/traversal adapter; SURVEY.md §2.7/§2.8). The north star is
GraphX-class analytics re-expressed in pure DataFrame form: every iterative
algorithm is a driver-side superstep loop where each superstep is one
Catalyst-planned join + aggregation (the Pregel pattern of GraphX's
aggregateMessages, without the RDD API). The rank, label and frontier
loops (with :func:`khop_neighbors`, which shares the landmark BFS
:func:`_hop_bfs`, and the forward σ sweep of
:func:`betweenness_landmarks`), :func:`connected_components_two_phase`,
:func:`hits` and the peeling family (:func:`kcore`, :func:`coreness`,
:func:`ktruss`, :func:`dag_layers`, :func:`transitive_closure`,
:func:`wl_color_histogram`, :func:`maximal_matching`,
:func:`greedy_coloring`) supply only a ``step`` (and a ``converged``
check if they stop at a fixpoint); one driver, :func:`_supersteps`, owns
their checkpoint cadence, cache release and job descriptions. Frames
that stay the same across rounds (a symmetrized edge frame, the node
ids) stay outside the state: the operator persists them once and
releases them in its ``finally`` (or checkpoints them once, where a
cached frame's measured size would mislead the join planner).

Scale design notes (100 TB):

- Messages are (dst, value) rows; the superstep is join(edges, state) →
  groupBy(dst).agg(...) — both shuffle on node id, so successive supersteps
  reuse the same hash partitioning; AQE coalesces and handles supernode
  skew.
- Lineage is truncated with ``localCheckpoint`` every few supersteps (plans
  otherwise grow exponentially with iteration count). On a real cluster use
  ``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` for
  fault-tolerant truncation; localCheckpoint is the single-node-friendly
  variant.
- Under ``converged``, the convergence check is one full aggregate per
  superstep (a count or sum, never a limit-1 probe) and is the action
  that materializes the persisted round, so it costs no extra pass.
  Loops without it run a fixed number of rounds.
- Connected components uses min-id propagation; on graphs with huge
  diameter switch to the two-phase large-star/small-star algorithm
  (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
  harness below is the propagation core both share.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from akka_graph_db_spark.model import PropertyGraph

_CHECKPOINT_EVERY = 3


def _supersteps(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    n_rounds: int,
    label: str,
    checkpoint_every: int = _CHECKPOINT_EVERY,
    converged: Callable[[DataFrame], bool] | None = None,
) -> DataFrame:
    """Run ``state = step(state)`` for ``n_rounds`` rounds. Every
    ``checkpoint_every``-th round is an eager ``localCheckpoint``, the
    others are lazily persisted (a state feeds several consumers next
    round); never both. A checkpoint releases the persisted rounds it
    replaces, and exit or error releases the rest. The result is always
    an eager checkpoint (the last round's own if it was one). Round n's
    jobs are described ``label:r{n}``; the caller's description is
    restored on exit. ``converged(state)``, run after each round's
    persist or checkpoint, stops the loop at the first round it returns
    true; it must be a full aggregate (count, sum), the job that
    materializes the whole round (a limit-1 ``isEmpty`` caches only the
    partitions it scans, and the next round recomputes the rest).

    Cadence rule: a step that reads its state more than once (a self-
    join, a union with a join of itself, two semi-joins against it)
    runs at ``checkpoint_every=1``. A persisted round still carries its
    whole plan in the analyzed tree, so every extra read copies it and
    the plan doubles each round until a checkpoint cuts it. A step that
    reads its state once keeps the default cadence."""
    sc = state.sparkSession.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    held: list[DataFrame] = []
    checkpointed = False
    try:
        for r in range(1, n_rounds + 1):
            sc.setJobDescription(f"{label}:r{r}")
            state = step(state)
            checkpointed = r % checkpoint_every == 0
            if checkpointed:
                state = state.localCheckpoint(eager=True)
                for df in held:
                    df.unpersist()
                held = []
            else:
                state = state.persist(StorageLevel.MEMORY_AND_DISK)
                held.append(state)
            if converged is not None and converged(state):
                break
        return state if checkpointed else state.localCheckpoint(eager=True)
    finally:
        for df in held:
            df.unpersist()
        sc.setLocalProperty("spark.job.description", caller)


def _edge_pairs(
    g: PropertyGraph,
    edge_labels: Sequence[str] | None,
    directed: bool,
    *extra: Column,
) -> DataFrame:
    """(a, b, *extra) per edge of the selected labels; undirected adds
    each edge reversed."""
    e = g.edges
    if edge_labels:
        e = e.where(F.col("label").isin(list(edge_labels)))
    fwd = e.select(F.col("src").alias("a"), F.col("dst").alias("b"), *extra)
    if directed:
        return fwd
    rev = e.select(F.col("dst").alias("a"), F.col("src").alias("b"), *extra)
    return fwd.unionByName(rev)


def degrees(
    g: PropertyGraph, edge_labels: Sequence[str] | None = None
) -> DataFrame:
    """Per-node (id, out_degree, in_degree, degree). Nodes with no edges
    appear with zeros. One shuffle per side + a join on id."""
    e = g.edges
    if edge_labels:
        e = e.where(F.col("label").isin(list(edge_labels)))
    out_d = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = e.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        g.nodes.select("id")
        .join(out_d, "id", "left")
        .join(in_d, "id", "left")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            (
                F.coalesce("out_degree", F.lit(0))
                + F.coalesce("in_degree", F.lit(0))
            ).alias("degree"),
        )
    )


def connected_components(
    g: PropertyGraph,
    edge_labels: Sequence[str] | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Undirected connected components by min-id label propagation.

    Returns (id, component) where component = min node id in the component.
    Iterates until a fixpoint (no node's label shrinks) or ``max_iter``.
    Cost per superstep: one shuffle join + one groupBy — both partitioned by
    node id, so the exchange is reused across supersteps.
    """
    # pass DIRECTED pairs: the harness symmetrizes once itself (passing the
    # already-symmetrized undirected set would double every message row)
    return connected_components_from_pairs(
        g.nodes.select("id"),
        _edge_pairs(g, edge_labels, directed=True),
        max_iter,
    )


_CC_BROADCAST_MAX_VERTICES = 5_000_000

# Driver-side MIS finish (maximal_independent_set) only ever collects a
# remainder at most this many edges; beyond it the operator raises
# instead of silently returning a non-maximal set.
_MIS_SEQUENTIAL_FINISH_MAX_EDGES = 200_000


def connected_components_from_pairs(
    vertices: DataFrame, pairs: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Min-id propagation over a raw (a, b) pair frame + (id) vertex frame
    — the harness behind :func:`connected_components`, reusable for derived
    graphs (e.g. near-duplicate clusters).

    The per-iteration state frame is one (id, component) row per vertex.
    Cached frames carry no runtime stats, so the planner would sort-merge
    the edges⋈state join every superstep; when the vertex count is small
    enough (size-gated, same pattern as traverse.py's frontier broadcast)
    we hint broadcast on the state/message side so each iteration is a
    map-side hash join over the cached edge partitions — no edge shuffle,
    no per-iteration sort. In that regime the symmetric edge frame is
    hash-partitioned by the MESSAGE endpoint once up front (and persisted
    — InMemoryRelation preserves outputPartitioning), so the per-round
    groupBy needs no exchange either, and TWO propagation rounds chain
    lazily into each materialized job (min-propagation is monotone, so an
    overshot round is a no-op — the coreness/kcore cadence trick). Large
    vertex sets fall back to the shuffle join, one round per job.
    """
    edges = pairs.select("a", "b").unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    state = vertices.select("id", F.col("id").alias("component")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    small = state.count() <= _CC_BROADCAST_MAX_VERTICES
    if small:
        npart = pairs.sparkSession.sparkContext.defaultParallelism
        edges = edges.repartition(npart, F.col("b"))
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    check_every = 2 if small else 1
    try:

        def _round(st_frame):
            st = F.broadcast(st_frame) if small else st_frame
            msgs = (
                edges.join(st, edges["a"] == st["id"], "inner")
                .groupBy(F.col("b").alias("id"))
                .agg(F.min("component").alias("msg"))
            )
            if small:
                msgs = F.broadcast(msgs)
            # (No pointer-doubling here: c ← c[c] needs a broadcast of
            # the CURRENT round's state, and broadcasting an
            # unmaterialized plan re-executes its whole lineage — with
            # chained rounds that's exponential recomputation, measured
            # 7.5s → 46s on the sf0.1 near-dup graph.)
            return st_frame.join(msgs, "id", "left").select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("msg", F.col("component"))
                ).alias("component"),
                (F.coalesce("msg", F.col("component")) < F.col("component"))
                .cast("int")
                .alias("_chg"),
            )

        it = 0
        while it < max_iter:
            new_state = state
            for _ in range(min(check_every, max_iter - it)):
                new_state = _round(new_state.drop("_chg"))
                it += 1
            if it % (_CHECKPOINT_EVERY * check_every) == 0:
                new_state = new_state.localCheckpoint(eager=True)
            else:
                new_state = new_state.persist(StorageLevel.MEMORY_AND_DISK)
            # _chg of the LAST chained round alone decides convergence:
            # if the final round moved nothing, the fixpoint is reached
            # regardless of what earlier chained rounds did.
            changed = new_state.agg(F.sum("_chg")).collect()[0][0] or 0
            old = state
            state = new_state.drop("_chg")
            old.unpersist()
            if changed == 0:
                break
        # Materialize the result before releasing the edge cache it reads.
        out = state.localCheckpoint(eager=True)
        return out
    finally:
        edges.unpersist()
        state.unpersist()


def connected_components_two_phase(
    vertices: DataFrame, pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds instead of O(diameter), the right harness when the
    graph has long chains (min-propagation needs one superstep per hop).

    large-star: every neighbor v > u of u links to m = min(N(u) ∪ {u});
    small-star: every neighbor v ≤ u links to m likewise. At the fixpoint
    the edge set is a star forest rooted at component minima.
    Returns (id, component); singletons map to themselves.

    One superstep of :func:`_supersteps` is a large-star round followed
    by a small-star round over the state, the star edge frame (u, v)
    with u > v. The step reads its state twice, so every round is
    checkpointed; the loop stops at the first round that leaves the
    (count, xor of row hashes) signature of the edge set unchanged.
    """

    def _star(
        e: DataFrame, keep: Callable[[Column, Column], Column], roots: bool
    ) -> DataFrame:
        # link every neighbor v of u that passes keep(v, u) to
        # m = min(N(u) ∪ {u}); the small star also links u itself
        und = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        links = (
            und.join(m, "u")
            .where(keep(F.col("v"), F.col("u")))
            .select(F.col("v").alias("u2"), F.col("m").alias("v2"))
        )
        if roots:
            links = links.unionByName(
                m.select(F.col("u").alias("u2"), F.col("m").alias("v2"))
            )
        return (
            links.where(F.col("u2") != F.col("v2"))
            .select(
                F.greatest("u2", "v2").alias("u"),
                F.least("u2", "v2").alias("v"),
            )
            .distinct()
        )

    def step(e: DataFrame) -> DataFrame:
        large = _star(e, lambda v, u: v > u, roots=False)
        return _star(large, lambda v, u: v <= u, roots=True)

    prev_sig = None

    def converged(e: DataFrame) -> bool:
        nonlocal prev_sig
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.bit_xor(F.xxhash64(F.col("u"), F.col("v"))), F.lit(0)
            ).alias("s"),
        ).collect()[0]
        sig = (row["n"], row["s"])
        same, prev_sig = sig == prev_sig, sig
        return same

    e = _supersteps(
        pairs.select("a", "b")
        .where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct(),
        step,
        max_iter,
        "connected_components_two_phase",
        checkpoint_every=1,
        converged=converged,
    )
    # star forest: every u points at its component min v
    comp = e.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("component"))
    roots_and_singletons = vertices.select("id").join(
        comp, "id", "left_anti"
    ).select("id", F.col("id").alias("component"))
    return comp.unionByName(roots_and_singletons).localCheckpoint(eager=True)


def _rank_iterate(
    vertices: DataFrame,
    edges: DataFrame,
    damping: float,
    n_iter: int,
    reset: Column | None,
    label: str,
) -> DataFrame:
    """PageRank's rounds over directed (a, b) or weighted (a, b, w)
    edges; returns (id, rank). ``reset=None``: uniform teleport, init
    1.0, rank' = 1-d + d·(recv + dang/n). A ``reset`` Column over ``id``
    (personalized): init reset, rank' = (1-d)·reset + d·(recv +
    dang·reset). ``recv`` sums rank/out (rank·w/Σ_out w) over in-edges
    from nodes with out > 0; ``dang`` is the others' rank."""
    npart = vertices.sparkSession.sparkContext.defaultParallelism
    weighted = "w" in edges.columns
    # Hash-partition the edge frame by the RECEIVING endpoint and the
    # node frame by id ONCE (persist keeps outputPartitioning visible to
    # Catalyst): with the rank state broadcast, each superstep's
    # contribution groupBy(b) and the nodes⋈contribs join then need NO
    # exchange — the Σdeg contribution volume is never reshuffled
    # (same r7 lever as coreness/betweenness; 8.9s -> ~6s at sf0.1).
    edges = edges.repartition(npart, F.col("b")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    out_deg = edges.groupBy(F.col("a").alias("id")).agg(
        (F.sum("w") if weighted else F.count(F.lit(1))).alias("out_degree")
    )
    nodes = (
        vertices.select("id")
        .join(out_deg, "id", "left")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            *([] if reset is None else [reset.alias("reset")]),
        )
        .repartition(npart, F.col("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    contrib = F.col("rank") / F.col("out_degree")
    if weighted:
        contrib = (F.col("rank") * F.col("w")) / F.col("out_degree")
    try:
        n = nodes.count()
        if n == 0:
            return vertices.select("id", F.lit(0.0).alias("rank"))
        recv = F.coalesce("recv", F.lit(0.0))
        if reset is None:
            init = F.lit(1.0)
            rank = F.lit(1.0 - damping) + F.lit(damping) * (
                recv + F.col("_dang") / n
            )
        else:
            init = F.col("reset")
            rank = F.lit(1.0 - damping) * F.col("reset") + F.lit(damping) * (
                recv + F.col("_dang") * F.col("reset")
            )

        def step(state: DataFrame) -> DataFrame:
            # one (id, rank) row per node — size-gated broadcast keeps
            # the persisted edge frame from re-shuffling every superstep
            # (the CC-harness pattern); past the gate, shuffle join
            st = (
                F.broadcast(state)
                if n <= _CC_BROADCAST_MAX_VERTICES
                else state
            )
            contribs = (
                edges.join(st, edges["a"] == st["id"], "inner")
                .where(F.col("out_degree") > 0)
                .select(F.col("b").alias("id"), contrib.alias("contrib"))
                .groupBy("id")
                .agg(F.sum("contrib").alias("recv"))
            )
            # dangling mass folded INTO the plan (1-row agg, broadcast
            # cross join) — no driver collect per iteration
            dangling = state.where(F.col("out_degree") == 0).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang")
            )
            return (
                nodes.join(contribs, "id", "left")
                .crossJoin(F.broadcast(dangling))
                .select("id", "out_degree", rank.alias("rank"))
            )

        state = nodes.select("id", "out_degree", init.alias("rank"))
        return _supersteps(state, step, n_iter, label).select("id", "rank")
    finally:
        edges.unpersist()
        nodes.unpersist()


def pagerank(
    g: PropertyGraph,
    edge_labels: Sequence[str] | None = None,
    damping: float = 0.85,
    n_iter: int = 10,
    weight: str | None = None,
) -> DataFrame:
    """PageRank with fixed iteration count (deterministic), directed edges.

    Returns (id, rank); ranks sum to ~N (GraphX convention: initial rank 1.0
    per node, dangling mass redistributed uniformly). Each superstep is one
    join + one groupBy, both on node id (:func:`_rank_iterate`).

    ``weight``: an edge property name decoded as double (missing values
    default to 1.0, the :func:`shortest_paths` convention) — the random
    surfer follows out-edges proportionally to weight (contribution =
    rank·w/Σ_out w). ``None`` keeps the exact unweighted math (division by
    the integer out-degree) — same IEEE ops as before the knob existed.
    Weights are assumed non-negative; a node whose total out-weight is 0
    is dangling.
    """
    from akka_graph_db_spark.model import prop_double

    extra = (
        []
        if weight is None
        else [F.coalesce(prop_double("props", weight), F.lit(1.0)).alias("w")]
    )
    edges = _edge_pairs(g, edge_labels, True, *extra)
    return _rank_iterate(g.nodes, edges, damping, n_iter, None, "pagerank")


def label_propagation_communities(
    g: PropertyGraph,
    edge_labels: Sequence[str] | None = None,
    n_iter: int = 4,
) -> DataFrame:
    """Graph-facade wrapper for :func:`label_propagation` (undirected over
    the selected edge labels, every graph node participates)."""
    return label_propagation(
        g.nodes.select("id"),
        _edge_pairs(g, edge_labels, directed=True),
        n_iter,
    )


def label_propagation(
    vertices: DataFrame,
    pairs: DataFrame,
    n_iter: int = 4,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan et
    al. 2007), fully deterministic: every node simultaneously adopts its
    neighbors' most frequent community, ties broken by the smallest
    community id; isolated nodes keep their own. Fixed iteration count
    (the async/random variant converges faster but is run-dependent —
    useless for a verifiable pipeline).

    ``pairs`` is a DIRECTED (a, b) frame; the harness symmetrizes and
    de-duplicates once (parallel edges count as one neighbor — documented
    choice, mirrored by the oracle). Returns (id, community).

    Each superstep = join(edges, state) → two hash aggregations, all
    shuffled on node id — the same exchange-reuse shape as the other
    Pregel loops here; the argmax is an order-free ``max(struct)``, no
    window sort. Rounds run on :func:`_supersteps` (every third one
    checkpointed).
    """
    edges = (
        pairs.select("a", "b")
        .unionByName(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    verts = vertices.select("id").persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_vertices = verts.count()

        def step(state: DataFrame) -> DataFrame:
            # size-gated state broadcast, as in pagerank/hits/CC
            st = (
                F.broadcast(state)
                if n_vertices <= _CC_BROADCAST_MAX_VERTICES
                else state
            )
            counts = (
                edges.join(st, edges["a"] == st["id"], "inner")
                .groupBy(F.col("b").alias("id"), "community")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            # argmax by (count desc, community asc) without a window:
            # max(struct(c, -community)) — node ids are non-negative
            best = counts.groupBy("id").agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("community")).alias("nc"))
                ).alias("m")
            ).select("id", (-F.col("m.nc")).alias("new_community"))
            return state.join(best, "id", "left").select(
                "id",
                F.coalesce("new_community", "community").alias("community"),
            )

        state = verts.select("id", F.col("id").alias("community"))
        return _supersteps(state, step, n_iter, "label_propagation")
    finally:
        edges.unpersist()
        verts.unpersist()


def shortest_paths(
    g: PropertyGraph,
    source_ids: Sequence[int],
    weight: str | None = None,
    edge_labels: Sequence[str] | None = None,
    directed: bool = True,
    max_hops: int = 10,
) -> DataFrame:
    """Hop-bounded (multi-)source shortest paths — Bellman-Ford frontier
    relaxation. Returns (id, dist) for every node reachable from any
    source within ``max_hops`` edges; unreachable nodes are absent.

    ``weight``: an edge property name decoded as double (missing/non-
    numeric values default to 1.0), or None for pure hop counting. The
    reference has no weighted traversal (pathsTo is hop-bounded BFS,
    Neo4jGraph.scala:85-94); this is the §2.8-style analytics extension of
    the same frontier loop.

    Scale shape: the weighted edge frame (src, dst, w) is decoded once and
    persisted; each superstep joins the FRONTIER (only nodes improved last
    round, size-gated broadcast like traverse.py) against it, aggregates
    min-candidate-dist per dst, and merges into the running state with a
    full-outer join on id — so successive supersteps reuse the id
    partitioning and the per-round work is proportional to the frontier's
    out-neighborhood, not the graph. The frontier is the ``_improved``
    flag of the :func:`_supersteps` state; its convergence check (empty
    frontier) is the count that gates the next broadcast — no extra job.
    """
    from akka_graph_db_spark.model import prop_double

    w = F.lit(1.0) if weight is None else prop_double("props", weight)
    w = F.coalesce(w, F.lit(1.0)).alias("w")
    edges = _edge_pairs(g, edge_labels, directed, w).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # the seeds are round 0's frontier; after that, the count the
    # convergence check takes sizes the next round's broadcast
    n_frontier = len(source_ids)

    def step(state: DataFrame) -> DataFrame:
        frontier = state.where(F.col("_improved")).select("id", "dist")
        fr = (
            F.broadcast(frontier)
            if n_frontier <= _CC_BROADCAST_MAX_VERTICES
            else frontier
        )
        msgs = (
            edges.join(fr, edges["a"] == fr["id"], "inner")
            .select(F.col("b").alias("id"), (F.col("dist") + F.col("w")).alias("cand"))
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        return (
            state.select("id", "dist")
            .join(msgs, "id", "full_outer")
            .select(
                "id",
                F.least("dist", "cand").alias("dist"),  # least skips nulls
                (
                    F.col("cand").isNotNull()
                    & (F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
                ).alias("_improved"),
            )
        )

    def converged(state: DataFrame) -> bool:
        nonlocal n_frontier
        n_frontier = state.where(F.col("_improved")).count()
        return n_frontier == 0

    seeds = g.nodes.sparkSession.createDataFrame(
        [(int(s), 0.0, True) for s in source_ids],
        "id bigint, dist double, _improved boolean",
    )
    try:
        return _supersteps(
            seeds, step, max_hops, "shortest_paths", converged=converged
        ).drop("_improved")
    finally:
        edges.unpersist()


def khop_neighbors(
    g: PropertyGraph,
    k: int,
    edge_labels: Sequence[str] | None = None,
    directed: bool = True,
) -> DataFrame:
    """(id, neighbor) — distinct nodes reachable in 1..k hops (self
    excluded). The neighborhood-materialization step behind GNN-style
    feature aggregation: join node features onto ``neighbor`` and
    groupBy ``id``.

    A multi-source BFS on the PAIR set: :func:`_hop_bfs`, the loop
    behind :func:`landmark_hop_distances`, with every node a landmark.
    Its visited frame starts at the distinct non-loop 1-hop pairs, and
    each of the k − 1 rounds joins only the pairs DISCOVERED last round
    against the edge list and anti-joins the known set — work is bounded
    by the output (the reachable-pair count), and high-degree skew is
    AQE's standard case. The reachable-pair count is the intrinsic size
    of the query's answer — at 100 TB, bound it with ``k`` and
    ``edge_labels`` (or sample neighbors downstream), not by a different
    algorithm.
    """
    if k < 1:
        raise ValueError("k must be >= 1")

    def seed(adj: DataFrame) -> tuple[DataFrame, bool]:
        # every node is a landmark, so seeds × vertices ≤ vertices²
        n = adj.select(F.explode(F.array("a", "b"))).distinct().count()
        visited = (
            adj.where(F.col("a") != F.col("b"))
            .select(
                F.col("a").alias("landmark"),
                F.col("b").alias("id"),
                F.lit(1).alias("dist"),
            )
            .distinct()
            .withColumn("_new", F.lit(True))
        )
        return visited, n * n <= _CC_BROADCAST_MAX_VERTICES

    reach = _hop_bfs(
        _edge_pairs(g, edge_labels, directed), seed, k - 1, "khop_neighbors"
    )
    return reach.select(
        F.col("landmark").alias("id"), F.col("id").alias("neighbor")
    )


def canonical_undirected(edge_pairs: DataFrame) -> DataFrame:
    """Distinct undirected edges as (a, b) with a < b (self-loops dropped) —
    the canonical input shape for triangle/motif counting."""
    return (
        edge_pairs.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )


def _degree_oriented(e: DataFrame) -> DataFrame:
    """Orient canonical (a<b) edges from the lower- to the higher-rank
    endpoint under rank = (degree, id) — the classic supernode fix for
    triangle counting: every node's oriented out-degree is O(sqrt(m)), so
    the wedge join is bounded by O(m^1.5) regardless of degree skew (a hub
    with d spokes contributes 0 wedges instead of d·(d-1)/2).

    Returns the oriented edges (src, dst), rank(src) < rank(dst), as an
    eager local checkpoint: every consumer reads the frame more than
    once, so the degree aggregation and the two orientation joins run
    exactly once per call.
    """
    deg = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # One (id, deg) row per node — orders of magnitude smaller than the
    # edge frame, and tiny next to the wedge join this feeds; broadcast so
    # both orientation joins stay map-side (no edge-frame shuffle here).
    # Size-gated like every other per-node broadcast: deg has at most
    # 2·|e| rows, and callers hand us a persisted e so the count is one
    # cheap cached action. Past the gate the joins shuffle (AQE may
    # still convert at runtime if actual stats allow).
    if e.count() <= _WEDGE_BROADCAST_MAX_EDGES:
        deg = F.broadcast(deg)
    eab = e.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return eab.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).localCheckpoint(eager=True)


def _oriented_triangles(o: DataFrame) -> DataFrame:
    """All triangles of a degree-oriented edge frame ``o`` (src, dst),
    as returned by :func:`_degree_oriented`, as one row (x, y, z) each,
    via the edge-iterator algorithm: for every oriented edge (x, y), the
    triangles through it are the common ORIENTED out-neighbors
    z ∈ N+(x) ∩ N+(y); each triangle surfaces exactly once, at its
    lowest-rank corner x.

    Versus the classic wedge self-join (the round-4 implementation):
    that plan MATERIALIZES every wedge — ~75M shuffled/broadcast-probed
    rows from 1.2M edges at sf0.1 — before the closing join throws most
    of them away. Here the same Σ d+² comparisons happen INSIDE a
    per-row ``array_intersect`` over pre-grouped adjacency arrays, so
    nothing wedge-sized is ever shuffled, broadcast, or spilled: the
    only data moved are the oriented edges themselves (twice) and one
    adjacency-array frame whose total payload is exactly m node ids.
    Degree orientation still bounds every array at O(sqrt(m)), so no
    single row's intersection can stall a task (supernode-skew-proof,
    same argument as before).

    Join shape: adjacency = groupBy(src) on the oriented frame (one
    shuffle, reused by the src-side join — same key); the dst-side join
    re-keys the edge frame once. The adjacency frame broadcasts under
    the same size gate as link prediction; past it, shuffle joins with
    exchange reuse are the fallback.
    """
    n_edges = o.count()  # checkpoint already materialized — cheap
    adj = o.groupBy("src").agg(F.collect_list("dst").alias("_nbrs"))
    adj_u = adj.select(F.col("src"), F.col("_nbrs").alias("_nu"))
    adj_v = adj.select(
        F.col("src").alias("dst"), F.col("_nbrs").alias("_nv")
    )
    if n_edges <= _WEDGE_BROADCAST_MAX_EDGES:
        adj_u = F.broadcast(adj_u)
        adj_v = F.broadcast(adj_v)
    # inner joins: a src always has an adjacency row (its own edge); a
    # dst without out-edges closes no triangle and may drop.
    return (
        o.join(adj_u, "src")
        .join(adj_v, "dst")
        .select(
            F.col("src").alias("x"),
            F.col("dst").alias("y"),
            F.explode(F.array_intersect("_nu", "_nv")).alias("z"),
        )
    )


def triangle_count(
    edge_pairs: DataFrame,
) -> DataFrame:
    """Global triangle count over an (a, b) edge-pair DataFrame.

    Canonicalizes to a<b, degree-orients (edges point low→high (degree,
    id) rank — see :func:`_degree_oriented`), then counts oriented wedges
    closed by a third oriented edge; each triangle is counted exactly once
    at its lowest-rank corner. Two shuffle joins, wedge volume O(m^1.5)
    even under supernode skew; at scale, pre-partition the oriented edge
    list by the join key and let AQE handle residual skew.
    Returns a 1-row DataFrame (n_triangles BIGINT).
    """
    e = canonical_undirected(edge_pairs).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return (
            _oriented_triangles(_degree_oriented(e))
            .agg(F.count(F.lit(1)).alias("n_triangles"))
            .localCheckpoint(eager=True)
        )
    finally:
        e.unpersist()


def node_triangle_counts(edge_pairs: DataFrame) -> DataFrame:
    """Per-node triangle participation counts (id, n_triangles)."""
    e = canonical_undirected(edge_pairs).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        tri = _oriented_triangles(_degree_oriented(e))
        per_node = (
            tri.select(F.col("x").alias("id"))
            .unionByName(tri.select(F.col("y").alias("id")))
            .unionByName(tri.select(F.col("z").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
        return per_node.localCheckpoint(eager=True)
    finally:
        e.unpersist()


def match_path(
    g: PropertyGraph, edge_labels: Sequence[str], directed: bool = True
) -> DataFrame:
    """Fixed-length motif chain: match n0-[L1]->n1-[L2]->n2-... and return
    one row per bound path with columns n0, e1, n1, e2, n2, ...

    The generalization of pathsTo's fixed-length case (SURVEY.md §2.8
    "motif matching = chain of edge-edge joins"); Catalyst reorders and
    broadcasts the per-label edge scans as appropriate. Vertex-uniqueness is
    NOT enforced (motif semantics, like Cypher MATCH on distinct
    relationships); add a post-filter if simple paths are required.
    """
    if not edge_labels:
        raise ValueError("edge_labels must be non-empty")

    def hop(label: str, i: int) -> DataFrame:
        e = g.edges.where(F.col("label") == label)
        sel = e.select(
            F.col("src").alias(f"n{i - 1}"),
            F.col("id").alias(f"e{i}"),
            F.col("dst").alias(f"n{i}"),
        )
        if not directed:
            rev = e.select(
                F.col("dst").alias(f"n{i - 1}"),
                F.col("id").alias(f"e{i}"),
                F.col("src").alias(f"n{i}"),
            )
            sel = sel.unionByName(rev)
        return sel

    out = hop(edge_labels[0], 1)
    for i, lbl in enumerate(edge_labels[1:], start=2):
        out = out.join(hop(lbl, i), f"n{i - 1}", "inner")
    cols: list[str] = ["n0"]
    for i in range(1, len(edge_labels) + 1):
        cols += [f"e{i}", f"n{i}"]
    return out.select(*cols)


_PATTERN_TERM = None  # compiled lazily in find_pattern


def find_pattern(
    g: PropertyGraph,
    pattern: str,
    node_labels: dict[str, str] | None = None,
) -> DataFrame:
    """Branching motif matcher over named variables — the DataFrame-native
    equivalent of the Cypher ``MATCH`` patterns the reference GENERATES
    for its fixed shapes (`Neo4jGraph.scala:188-194,261-264,345-347` all
    emit single-edge instances of this grammar), generalized the way
    GraphFrames' ``find()`` generalizes them.

    Grammar: semicolon-separated edge terms
    ``(a)-[e:label]->(b)`` — ``a``/``b`` name node variables (repeating a
    name SHARES the binding, enabling branches, diamonds, and cycles),
    ``e`` optionally names the edge id column, ``:label`` optionally
    filters the edge label. A term prefixed with ``!`` is a NEGATION:
    rows where any such edge exists (for the term's bound variables) are
    anti-joined away; unbound variables in a negation are existentially
    quantified, and negation terms cannot name an edge variable (nothing
    to bind it to in the output).

    Returns one column per named variable: node vars = node id, edge
    vars = edge id. Like Cypher MATCH on relationships (and
    ``match_path`` above), vertex- and edge-uniqueness are NOT enforced —
    post-filter if simple matches are required.

    Scale shape: each positive term is one label-filtered edge scan,
    composed with equi-joins on the shared variables in pattern order —
    Catalyst reorders/broadcasts them like any join chain, AQE handles
    skewed bindings. A term that shares no variable with the terms before
    it would be a cartesian product and RAISES instead (split the pattern
    into separate queries if a cross product is genuinely wanted).
    Negations compile to left-anti joins (never NOT IN subqueries).

    ``node_labels`` optionally constrains node variables by label, e.g.
    ``{"c": "customer"}`` — compiled to broadcastable semi-joins against
    the label-pruned node scan.
    """
    import re

    global _PATTERN_TERM
    if _PATTERN_TERM is None:
        _PATTERN_TERM = re.compile(
            r"^\s*(!?)\s*\(\s*(\w+)\s*\)\s*-\s*\[\s*(\w+)?"
            r"\s*(?::\s*(\w+))?\s*\]\s*->\s*\(\s*(\w+)\s*\)\s*$"
        )
    terms = [t for t in pattern.split(";") if t.strip()]
    if not terms:
        raise ValueError("empty pattern")
    parsed = []
    node_vars: set[str] = set()
    edge_vars: set[str] = set()
    for t in terms:
        m = _PATTERN_TERM.match(t)
        if not m:
            raise ValueError(f"unparseable pattern term: {t!r}")
        neg, src_v, edge_v, label, dst_v = (
            bool(m.group(1)), m.group(2), m.group(3), m.group(4), m.group(5),
        )
        if neg and edge_v:
            raise ValueError(
                f"negation term cannot bind an edge variable: {t!r}"
            )
        if edge_v:
            if edge_v in edge_vars or edge_v in node_vars:
                raise ValueError(f"duplicate variable name: {edge_v!r}")
            edge_vars.add(edge_v)
        for v in (src_v, dst_v):
            if v in edge_vars:
                raise ValueError(
                    f"name {v!r} used as both node and edge variable"
                )
            if not neg:
                # negation-only variables are existentially quantified —
                # they never become output columns
                node_vars.add(v)
        parsed.append((neg, src_v, edge_v, label, dst_v))

    def term_frame(src_v, edge_v, label, dst_v) -> DataFrame:
        e = g.edges
        if label is not None:
            e = e.where(F.col("label") == label)
        cols = [F.col("src").alias(src_v), F.col("dst").alias(dst_v)]
        if src_v == dst_v:  # self-loop term: src and dst must coincide
            e = e.where(F.col("src") == F.col("dst"))
            cols = [F.col("src").alias(src_v)]
        if edge_v:
            cols.append(F.col("id").alias(edge_v))
        return e.select(*cols)

    positives = [p for p in parsed if not p[0]]
    negatives = [p for p in parsed if p[0]]
    if not positives:
        raise ValueError("pattern needs at least one positive term")

    out: DataFrame | None = None
    for _, src_v, edge_v, label, dst_v in positives:
        tf = term_frame(src_v, edge_v, label, dst_v)
        if out is None:
            out = tf
        else:
            shared = [c for c in tf.columns if c in out.columns]
            if not shared:
                raise ValueError(
                    f"pattern term ({src_v})->({dst_v}) shares no variable "
                    "with the terms before it (cartesian product refused)"
                )
            out = out.join(tf, shared, "inner")

    if node_labels:
        unknown = set(node_labels) - node_vars
        if unknown:
            raise ValueError(f"node_labels for unbound vars: {sorted(unknown)}")
        for var, lbl in node_labels.items():
            ids = g.nodes.where(F.col("label") == lbl).select(
                F.col("id").alias(var)
            )
            out = out.join(ids, var, "left_semi")

    for _, src_v, _e, label, dst_v in negatives:
        tf = term_frame(src_v, None, label, dst_v)
        keys = [c for c in tf.columns if c in out.columns]
        if not keys:
            raise ValueError(
                f"negation term ({src_v})->({dst_v}) binds no variable "
                "from the positive pattern"
            )
        out = out.join(tf.select(*keys), keys, "left_anti")

    ordered = [v for v in sorted(node_vars)] + [v for v in sorted(edge_vars)]
    return out.select(*ordered)


def hits(
    g: PropertyGraph,
    edge_labels: Sequence[str] | None = None,
    n_iter: int = 8,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) with a fixed iteration
    count and L1-normalized results — fully deterministic, so an
    unrolled SQL CTE chain can reproduce it exactly.

    Returns (id, hub, authority) for every node. Per half-step: one join
    + one groupBy over a persisted edge copy; the L1 normalizer is a
    1-row aggregate folded back via broadcast cross join — no
    driver-side collect per iteration. The reference has no analytics
    at all (SURVEY.md §2.7); this is §2.8 extension surface.

    The state of :func:`_supersteps` is the hub vector: a round
    L1-normalizes it (as a scale on the first half-step's output) and
    takes both half-steps (authority, then hub). L1 scalars commute with
    the linear half-steps, so normalizing once per iteration equals
    normalizing every half-step up to float rounding (~1e-15 relative)
    and keeps magnitudes bounded at any ``n_iter``. The normalizer reads
    the state a second time, so every round is checkpointed and that
    read is a scan, not the join recomputed. The last iteration runs
    after the loop, because it also yields the authority vector.
    """
    if n_iter < 1:
        raise ValueError(f"hits() needs n_iter >= 1, got {n_iter}")
    base_edges = _edge_pairs(g, edge_labels, directed=True)
    npart = g.nodes.sparkSession.sparkContext.defaultParallelism
    # Two persisted copies, each hash-partitioned by the half-step's
    # GROUPING endpoint (auth sums group on b, hub sums on a): with the
    # state broadcast, every half-step is broadcast-join +
    # exchange-free aggregation over cached edge partitions — the same
    # dual-copy lever as the Brandes sweeps.
    edges_by_b = base_edges.repartition(npart, F.col("b")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    edges_by_a = base_edges.repartition(npart, F.col("a")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    nodes = g.nodes.select("id")
    small = nodes.count() <= _CC_BROADCAST_MAX_VERTICES

    def bc(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    def _half(state: DataFrame, out_col: str, in_col: str) -> DataFrame:
        # sum incoming scores over edges. Nodes absent from the support
        # (zero score) contribute nothing to either the sums or the
        # normalizer, so the loop carries ONLY the nonzero support — no
        # per-half-step full-vertex join; zeros are materialized once at
        # the end. The state side is one row per supported node —
        # broadcast it so the persisted edge frame never re-shuffles
        # (same size-gated pattern as the CC harness); at vertex counts
        # past the gate, fall back to the shuffle join.
        edges = edges_by_b if in_col == "b" else edges_by_a
        st = bc(state)
        return (
            edges.join(st, edges[out_col] == st["id"], "inner")
            .select(F.col(in_col).alias("id"), "score")
            .groupBy("id")
            .agg(F.sum("score").alias("score"))
        )

    def _scaled(v: DataFrame, by: DataFrame) -> DataFrame:
        # v over the L1 total of `by`, in-plan: the 1-row total is folded
        # back via broadcast cross join, no driver collect
        total = by.agg(F.coalesce(F.sum("score"), F.lit(1.0)).alias("_tot"))
        return v.crossJoin(F.broadcast(total)).select(
            "id",
            (
                F.col("score")
                / F.when(F.col("_tot") == 0, F.lit(1.0)).otherwise(
                    F.col("_tot")
                )
            ).alias("score"),
        )

    def step(hub: DataFrame) -> DataFrame:
        # scaling the half-step's output by the input's total equals
        # normalizing the input, and the total and the broadcast of the
        # input run side by side instead of one after the other
        return _half(_scaled(_half(hub, "a", "b"), hub), "b", "a")

    try:
        hub = _supersteps(
            nodes.select("id", F.lit(1.0).alias("score")),
            step,
            n_iter - 1,
            "hits",
            checkpoint_every=1,
        )
        auth = _scaled(_half(hub, "a", "b"), hub).localCheckpoint(eager=True)
        hub = _half(auth, "b", "a").localCheckpoint(eager=True)
        return (
            nodes.join(
                bc(
                    _scaled(hub, hub).select(
                        "id", F.col("score").alias("hub")
                    )
                ),
                "id",
                "left",
            )
            .join(
                bc(
                    _scaled(auth, auth).select(
                        "id", F.col("score").alias("authority")
                    )
                ),
                "id",
                "left",
            )
            .select(
                "id",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("authority", F.lit(0.0)).alias("authority"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        edges_by_b.unpersist()
        edges_by_a.unpersist()


def _symmetric(pairs: DataFrame) -> DataFrame:
    """Both directions (a, b) of the canonical undirected edges."""
    e = canonical_undirected(pairs)
    return e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))


def _persisted_sym(pairs: DataFrame, key: str = "a") -> DataFrame:
    """:func:`_symmetric` hash-partitioned by ``key`` and persisted: the
    constant edge frame of the peeling loops and the Brandes sweeps,
    which the caller unpersists. Persist, not checkpoint: the cached
    relation keeps the hash partitioning visible (a checkpointed scan
    reports it unknown), so a groupBy on ``key`` over joins that
    broadcast their other side needs no exchange."""
    return (
        _symmetric(pairs)
        .repartition(pairs.sparkSession.sparkContext.defaultParallelism, key)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def kcore(pairs: DataFrame, k: int, max_iter: int = 30) -> DataFrame:
    """k-core decomposition membership: iteratively peel nodes of degree
    < k from an undirected (a, b) pair frame until a fixpoint; returns
    (id, core_degree) — the surviving nodes with their degree inside the
    core.

    The state is the kept-vertex frame (a, deg) over the constant
    symmetrized edges: each round is two semi-joins of the edges against
    the kept vertices (broadcast under the vertex gate; the kept set
    only shrinks) and one degree aggregation. The edges are hash-
    partitioned by ``a`` and persisted once, and the broadcast semi-
    joins keep that partitioning, so the aggregation never reshuffles.
    A round reads its state twice, so every round is checkpointed.
    Convergence is the kept-vertex count (peeling is monotone: an equal
    count means an identical set), and at the fixpoint ``deg`` is
    exactly the in-core degree. If ``max_iter`` rounds pass without the
    fixpoint, one more round recounts inside the last kept set so the
    contract (in-core degrees) holds.
    """
    sym = _persisted_sym(pairs)

    def degrees(edges: DataFrame) -> DataFrame:
        return (
            edges.groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
        )

    try:
        keep = degrees(sym)
        counts = [keep.count()]
        small = counts[0] <= _CC_BROADCAST_MAX_VERTICES

        def step(keep: DataFrame) -> DataFrame:
            ka = keep.select("a")
            kb = keep.select(F.col("a").alias("b"))
            if small:
                ka, kb = F.broadcast(ka), F.broadcast(kb)
            return degrees(
                sym.join(ka, "a", "left_semi").join(kb, "b", "left_semi")
            )

        def converged(keep: DataFrame) -> bool:
            counts.append(keep.count())
            return counts[-1] in (counts[-2], 0)

        keep = _supersteps(keep, step, max_iter - 1, "kcore", 1, converged)
        if len(counts) == 1 or counts[-1] not in (counts[-2], 0):
            # max_iter ran out: recount inside the last kept set
            keep = step(keep).localCheckpoint(eager=True)
    finally:
        sym.unpersist()
    return keep.select(F.col("a").alias("id"), F.col("deg").alias("core_degree"))


# h-index rounds chained into one lazily composed plan per superstep of
# coreness. A block costs one broadcast job per round plus three jobs to
# checkpoint it and sum it, so longer blocks trade a few no-op rounds
# past the fixpoint for fewer jobs: at 5, the sf0.1 part co-order graph
# (38 rounds to its fixpoint) takes 9 blocks.
_CORENESS_BLOCK = 5


def coreness(pairs: DataFrame, max_iter: int = 60) -> DataFrame:
    """FULL core decomposition — every vertex's core number in one run
    (vs :func:`kcore`'s single-k membership) — by h-index iteration
    (Lü et al. 2016, Sci. Rep. 6:22241): h⁰(v) = deg(v), hⁿ⁺¹(v) =
    H(neighbor hⁿ values) where H is the h-index operator (largest k
    with k neighbors at value >= k); the sequence decreases
    monotonically to the coreness, so a SQL oracle can unroll a FIXED
    round count past the measured fixpoint (the kcore/ktruss cadence —
    extra rounds are no-ops).

    Per round: one equi-join to fetch neighbor h values + one groupBy
    computing H via sort_array/zip_with (pure JVM expressions). The
    per-vertex collected array is degree-bounded — the same per-vertex
    cost bound a rank-window variant would have; for graphs with
    multi-million-degree hubs, cap hubs first (their coreness can also
    be resolved by peeling the low shells). Returns (id, coreness).

    Per-round data is NOT small: on the sf0.1 part co-order graph every
    round joins and sorts 2.39 M directed edge rows, and the fixpoint
    takes 38 rounds. Two levers keep the job count down:

    - **Round chaining**: one superstep of :func:`_supersteps` is a
      block of ``_CORENESS_BLOCK`` h-index rounds composed as ONE lazy
      plan, so a block costs one checkpoint and one convergence sum
      instead of one per round. ``max_iter`` is rounded up to whole
      blocks (rounds past the fixpoint are no-ops). Every block is
      checkpointed: in a fresh JVM, persisted blocks (the default
      cadence) measured slower at sf0.1 than a checkpoint per block.
    - **Sum-based convergence**: hⁿ⁺¹(v) <= hⁿ(v) pointwise (Lü et al.
      Thm 1), so Σh strictly decreases until the fixpoint — equal
      block-end sums prove NO round in the block changed anything. The
      first block compares against the degree sum.

    Raises RuntimeError if ``max_iter`` rounds pass without reaching the
    fixpoint: the intermediate h values are only UPPER BOUNDS on
    coreness, and unlike :func:`kcore` there is no recount fallback that
    restores the contract — a silent return would hand back wrong
    answers. Raise ``max_iter`` instead.
    """
    # with the h frame broadcast, every round is a broadcast join and an
    # exchange-free aggregation over the cached edge partitions
    sym = _persisted_sym(pairs)
    try:
        h = sym.groupBy("a").agg(F.count(F.lit(1)).alias("h"))
        n_vertices, h_sum = h.agg(
            F.count(F.lit(1)), F.sum("h").cast("bigint")
        ).first()
        sums = [h_sum]
        small = n_vertices <= _CC_BROADCAST_MAX_VERTICES

        def step(h: DataFrame) -> DataFrame:
            for _ in range(_CORENESS_BLOCK):
                st = h.select(F.col("a").alias("b"), F.col("h").alias("_nh"))
                nh = sym.join(F.broadcast(st) if small else st, "b")
                hs = F.sort_array(F.collect_list("_nh"), asc=False)
                h = (
                    nh.groupBy("a")
                    .agg(hs.alias("_hs"))
                    .select(
                        "a",
                        F.array_max(
                            F.zip_with(
                                F.col("_hs"),
                                F.sequence(F.lit(1), F.size("_hs")),
                                lambda v, i: F.least(v, i.cast("bigint")),
                            )
                        ).alias("h"),
                    )
                )
            return h

        def converged(h: DataFrame) -> bool:
            sums.append(h.agg(F.sum("h").cast("bigint")).first()[0])
            return sums[-1] == sums[-2]

        n_blocks = -(-max_iter // _CORENESS_BLOCK)
        h = _supersteps(h, step, n_blocks, "coreness", 1, converged)
    finally:
        sym.unpersist()
    if len(sums) == 1 or sums[-1] != sums[-2]:
        raise RuntimeError(
            f"coreness did not converge in {max_iter} rounds — the "
            "current h values are only upper bounds on coreness; "
            "raise max_iter"
        )
    return h.select(F.col("a").alias("id"), F.col("h").alias("coreness"))


def maximal_independent_set(
    pairs: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 12,
    salt: str = "mis",
) -> DataFrame:
    """Deterministic Luby-style maximal independent set over an
    undirected (a, b) pair frame: per round every surviving vertex
    gets the hash priority ``md5_63(id:round:salt)`` and joins the MIS
    iff its (priority, id) is strictly smaller than every surviving
    neighbor's; winners and their neighborhoods leave the graph, and
    the loop runs to fixpoint — O(log n) rounds with high probability
    (Luby 1986), with the round-salted hash replacing the RNG so any
    partitioning, engine, or re-run computes the SAME set.

    Isolated vertices (present in ``vertices`` but no surviving edge)
    join the MIS trivially. Per round: one neighbor-min aggregation +
    two semi/anti joins, all keyed by vertex id; the surviving edge
    frame only shrinks and is checkpointed as the loop state (the
    kcore/ktruss cadence). Returns (id) — the MIS members.
    """
    from akka_graph_db_spark.functions.hashing import md5_63

    e = canonical_undirected(pairs)
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    verts = (
        vertices.select("id")
        if vertices is not None
        else sym.select(F.col("a").alias("id")).distinct()
    ).localCheckpoint(eager=True)
    mis_parts = []
    for r in range(max_rounds):
        def _key(c):
            # (priority, id) as ONE fixed-width zero-padded string:
            # lexicographic == numeric on both fields, and a plain
            # MIN(string) reproduces it in any SQL engine.
            return F.format_string(
                "%019d:%019d",
                md5_63(
                    F.concat_ws(
                        ":", c.cast("string"), F.lit(str(r)), F.lit(salt)
                    )
                ),
                c,
            )

        deg_v = sym.select(F.col("a").alias("id")).distinct()
        isolated = verts.join(deg_v, "id", "left_anti")
        mis_parts.append(isolated)
        # neighbor-min (priority, id) key per surviving vertex
        nmin = (
            sym.select(F.col("a").alias("id"), _key(F.col("b")).alias("_nk"))
            .groupBy("id")
            .agg(F.min("_nk").alias("_nmin"))
        )
        winners = (
            nmin.where(_key(F.col("id")) < F.col("_nmin"))
            .select("id")
            .localCheckpoint(eager=True)
        )
        mis_parts.append(winners)
        closed = winners.unionByName(
            sym.join(
                winners.select(F.col("id").alias("a")), "a", "left_semi"
            )
            .select(F.col("b").alias("id"))
            .distinct()
        )
        verts = verts.join(closed, "id", "left_anti").localCheckpoint(
            eager=True
        )
        sym = (
            sym.join(closed.select(F.col("id").alias("a")), "a", "left_anti")
            .join(closed.select(F.col("id").alias("b")), "b", "left_anti")
            .localCheckpoint(eager=True)
        )
        if sym.count() == 0:
            mis_parts.append(verts)  # all leftovers are isolated now
            break
    else:
        # max_rounds exhausted with edges remaining: silently dropping
        # the survivors would yield an independent-but-not-MAXIMAL set
        # (and diverge from the unrolled oracle). Finish deterministically
        # on the driver — the remainder after O(log n) Luby rounds is
        # tiny with overwhelming probability, and the gate makes the
        # collect explicit rather than an unbounded scale hazard.
        n_rem = sym.count()
        if n_rem > _MIS_SEQUENTIAL_FINISH_MAX_EDGES:
            raise RuntimeError(
                f"maximal_independent_set: {n_rem} edges remain after "
                f"{max_rounds} rounds (> sequential-finish cap "
                f"{_MIS_SEQUENTIAL_FINISH_MAX_EDGES}); raise max_rounds"
            )
        spark = sym.sparkSession
        adj: dict[int, set[int]] = {}
        for row in sym.collect():  # gated: <= cap rows
            adj.setdefault(row["a"], set()).add(row["b"])
        import hashlib

        def _prio(v: int) -> tuple[int, int]:
            # same key family the distributed rounds use: md5_63 of
            # "id:round:salt" with round = max_rounds (the finish round)
            digest = hashlib.md5(
                f"{v}:{max_rounds}:{salt}".encode()
            ).digest()
            return (
                int.from_bytes(digest[:8], "little") & 0x7FFFFFFFFFFFFFFF,
                v,
            )

        chosen: list[int] = []
        blocked: set[int] = set()
        for v in sorted(adj, key=_prio):
            if v not in blocked:
                chosen.append(v)
                blocked.update(adj[v])
        # survivors NOT incident to a remaining edge are isolated: in
        mis_parts.append(
            verts.join(
                sym.select(F.col("a").alias("id")).distinct(),
                "id",
                "left_anti",
            )
        )
        if chosen:
            mis_parts.append(
                spark.createDataFrame(
                    [(int(v),) for v in chosen], verts.schema
                )
            )
    out = mis_parts[0]
    for p in mis_parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def transitive_closure(
    pairs: DataFrame, max_doublings: int = 6
) -> DataFrame:
    """Reachability closure of a DIRECTED (a, b) pair frame by path
    doubling: each round joins the current closure with itself, so R
    rounds cover paths up to 2^R hops — O(log diameter) supersteps, the
    textbook parallel closure (vs. linear-round edge-relaxation).

    SCALE CONTRACT: the OUTPUT is O(n²) pairs in the worst case — this
    operator is for bounded-cardinality DERIVED graphs (event-type
    transition graphs, label/category DAGs, schema lineage), not for
    billion-node raw graphs; the per-round join itself is
    shuffle-partitioned on the join key and never materializes more
    than the closure. Fixpoint-detected (count stable), monotone — an
    oracle can unroll a fixed round count safely past the fixpoint. A
    round reads the closure three times, so every round is
    checkpointed.
    """
    reach = pairs.select("a", "b").distinct().localCheckpoint(eager=True)
    counts = [reach.count()]

    def step(reach: DataFrame) -> DataFrame:
        x, y = reach.alias("x"), reach.alias("y")
        stepped = x.join(y, F.col("x.b") == F.col("y.a")).select(
            F.col("x.a").alias("a"), F.col("y.b").alias("b")
        )
        return reach.unionByName(stepped).distinct()

    def converged(reach: DataFrame) -> bool:
        counts.append(reach.count())
        return counts[-1] == counts[-2]

    return _supersteps(
        reach, step, max_doublings, "transitive_closure", 1, converged
    )


def strongly_connected_components(
    pairs: DataFrame, max_doublings: int = 6, closure: DataFrame | None = None
) -> DataFrame:
    """SCC membership of a directed (a, b) frame via mutual
    reachability over :func:`transitive_closure` (same bounded-
    cardinality contract): u, v share a component iff each reaches the
    other; the component id is the smallest member (every node is
    reflexively in its own SCC, so sources/sinks come out as
    singletons). Returns (id, scc, scc_size). Callers that already
    hold the closure of ``pairs`` (e.g. :func:`bowtie_classes`) pass
    it via ``closure`` so it is not recomputed.
    """
    c = closure if closure is not None else transitive_closure(
        pairs, max_doublings
    )
    nodes = (
        pairs.select(F.col("a").alias("id"))
        .unionByName(pairs.select(F.col("b").alias("id")))
        .distinct()
    )
    fwd, bwd = c.alias("f"), c.alias("g")
    mutual = fwd.join(
        bwd,
        (F.col("f.a") == F.col("g.b")) & (F.col("f.b") == F.col("g.a")),
    ).select(F.col("f.a").alias("id"), F.col("f.b").alias("peer"))
    scc = (
        nodes.join(mutual, "id", "left")
        .groupBy("id")
        .agg(
            F.least(
                F.col("id"), F.coalesce(F.min("peer"), F.col("id"))
            ).alias("scc")
        )
    )
    sizes = scc.groupBy("scc").agg(F.count(F.lit(1)).alias("scc_size"))
    return scc.join(sizes, "scc").select("id", "scc", "scc_size")


def ktruss(pairs: DataFrame, k: int, max_iter: int = 30) -> DataFrame:
    """k-truss subgraph of an undirected (a, b) pair frame: iteratively
    remove edges supported by fewer than k-2 triangles until a fixpoint
    (Cohen 2008, "Trusses: cohesive subgraphs for social network
    analysis") — the edge-level analogue of :func:`kcore`, and a much
    stronger cohesion filter (every surviving edge sits in >= k-2
    triangles of surviving edges).

    Each round enumerates triangles of the CURRENT edge set via the same
    degree-oriented edge-iterator as :func:`triangle_count` (wedge work
    bounded O(m^1.5) under skew), credits each triangle to its three
    edges, and keeps the supported ones. The state is the surviving
    edge frame, which only shrinks; a round reads it several times, so
    every round is checkpointed. The input edges are materialized once
    for the same reason. Peeling is monotone, so rounds past the
    fixpoint are no-ops — an oracle can safely unroll a FIXED round
    count >= the actual fixpoint.

    Returns the surviving canonical edges (a, b) with their final
    ``support`` count.
    """
    if k < 3:
        raise ValueError(f"ktruss needs k >= 3, got {k}")
    if max_iter < 1:
        raise ValueError(f"ktruss needs max_iter >= 1, got {max_iter}")
    e = canonical_undirected(pairs).localCheckpoint(eager=True)
    counts = [e.count()]

    def step(surv: DataFrame) -> DataFrame:
        tri = _oriented_triangles(_degree_oriented(surv.select("a", "b")))
        # each (x, y, z) triangle supports its three canonical edges
        sides = [
            tri.select(F.least(u, v).alias("a"), F.greatest(u, v).alias("b"))
            for u, v in (("x", "y"), ("x", "z"), ("y", "z"))
        ]
        return (
            sides[0].unionByName(sides[1]).unionByName(sides[2])
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support"))
            .where(F.col("support") >= k - 2)
        )

    def converged(surv: DataFrame) -> bool:
        counts.append(surv.count())
        return counts[-1] in (counts[-2], 0)

    return _supersteps(e, step, max_iter, "ktruss", 1, converged)


# Size gate of the wedge/triangle family, in symmetric edges (2n for n
# canonical edges). Byte budget of the CSR link-prediction scorer at the
# gate, n canonical edges over m <= 2n nodes: every executor holds one
# broadcast (nodes, indptr, dst, degs, capped, edge_keys, bound) of
# 8m + 8(m + 1) + 4·2n + 8m + m + 8n = 25m + 16n + 8 bytes, at most
# ~330 MB at 2n = 10M; the driver holds, on top, the Arrow collect (16n)
# and the packed sort (16n). Pinned by
# tests/test_round13.py::test_lp_broadcast_bytes_match_budget.
_WEDGE_BROADCAST_MAX_EDGES = 10_000_000

# Wedge counts above this shuffle raw packed rows to a width derived
# from the exact wedge volume before aggregating (see
# _common_neighbour_top_k) — below it the default two-phase agg never
# builds a map big enough to spill.
_WEDGE_REPART_MIN_ROWS = 8_000_000

# Walk frames above this size stop fitting a broadcast; random_walks
# falls back to the globally-ranked-adjacency shuffle-join regime.
_WALK_BROADCAST_MAX_SEEDS = 65_536

# Floor for the auto-derived wedge cap: below this, capping buys nothing
# (64² wedge rows per center is noise) and small graphs would cap
# legitimate evidence.
_AUTO_MAX_DEGREE_FLOOR = 64


# Test hook: force both link-prediction operators onto one execution
# path ("intersect" | "wedge" | None = size-gated choice). The equality
# tests in tests/test_round13.py and tests/test_property.py pin the two
# paths row-identical.
_FORCE_LP_PATH: "str | None" = None


def _auto_max_degree(hist, q: float = 0.999) -> int:
    """Derive the wedge cap from a degree HISTOGRAM, an iterable of
    (degree, count) pairs: the smallest degree d such that
    >= ceil(q * n_nodes) nodes have degree <= d (the exact q-quantile by
    integer rank — no float quantile semantics, so a SQL oracle
    reproduces it bit-for-bit), floored at ``_AUTO_MAX_DEGREE_FLOOR``.

    Both link-prediction paths feed it: the wedge path the collected
    rows of a groupBy over the degree frame (one row per DISTINCT
    degree value, O(10^3..10^4) even on billion-node graphs, so the
    collect is bounded regardless of graph size), the CSR path
    ``np.unique(degs, return_counts=True)``. This is the VERDICT r5 #7
    auto-tune: the 100x graph gets a cap from its own tail instead of a
    hand-tuned constant.
    """
    hist = sorted(hist)
    n_nodes = sum(n for _, n in hist)
    if n_nodes == 0:
        return _AUTO_MAX_DEGREE_FLOOR
    # round(), not int(): float artifacts like 0.29*1000 =
    # 289.99999... would otherwise truncate to an off-by-one permille
    # numerator for q values other than the default (ADVICE r6).
    need = -(-round(q * 1000) * n_nodes // 1000)  # ceil(q*n) in integers
    cum = 0
    for d, n in hist:
        cum += n
        if cum >= need:
            break
    return max(int(d), _AUTO_MAX_DEGREE_FLOOR)


def _lp_intersect_scored(
    e: DataFrame,
    n_edges: int,
    score: str,
    top_k: int,
    min_common: int,
    max_degree: "int | str | None",
    endpoints_below: "int | None",
) -> DataFrame:
    """Candidate scoring for both link-prediction operators (see
    :func:`_common_neighbour_top_k`) by broadcast-adjacency
    intersection inside ``mapInArrow`` (guide §2.3/§4.2, VERDICT r12
    next-round #1) — replaces the deg²-row wedge explode + packed-key
    exchange with NO shuffle at all.

    The canonical edge list (already known to fit the
    ``_WEDGE_BROADCAST_MAX_EDGES`` gate; its byte budget is written
    there) is collected once via Arrow and broadcast as a
    dense-remapped CSR. Each task owns a slice of the node range and,
    for each node u, counts every v > u sharing a CAPPED common neighbor
    by expanding the capped neighbors' adjacency segments and
    run-length-counting one sorted packed-key array — for pair (u, v),
    |N(u) ∩ N(v) ∩ capped| is exactly the number of capped x adjacent to
    both, and every such x is a neighbor of u, so the count completes at
    u's partition with no cross-task merge. Non-adjacency is a
    searchsorted probe of the canonical edge keys.

    ``score`` picks what a run of equal keys scores:
    - ``"jaccard"``: common/(deg_a + deg_b − common), the same IEEE
      double as the wedge path; the keys sort in place;
    - ``"ra_ppm"``: every expanded element carries its centre's weight
      ``1000000 // deg(x)``; the keys sort with their weights (a stable
      argsort) and each run sums them, exactly the wedge path's BIGINT.
    Per-task top-k by the final (score desc, common desc, a, b) order
    keeps the global top-k exact; the rows are (a, b, common, score).
    Work is the same Σ over capped centers of deg² the wedge join pays —
    moved from a 10⁸-row exchange into vectorized numpy over broadcast
    arrays.

    Semantics are pinned row-identical to the wedge path (counts, IEEE
    doubles, ppm sums, ordering) by tests/test_round13.py and
    tests/test_property.py on the plain and bipartite
    (``endpoints_below``) modes and for the auto cap.
    """
    import numpy as np

    spark = e.sparkSession
    tbl = e.toArrow()
    a = tbl["a"].to_numpy(zero_copy_only=False).astype(np.int64)
    b = tbl["b"].to_numpy(zero_copy_only=False).astype(np.int64)
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    m = len(nodes)
    ai = inv[:n_edges]
    bi = inv[n_edges:]
    # canonical (a < b ⇒ ai < bi under the order-preserving dense remap)
    # edge keys for the non-adjacency probe; packing uses + (bits are
    # disjoint: both halves non-negative < 2³¹) — on this host's numpy,
    # add is markedly cheaper than bitwise-or on fresh pages
    edge_keys = np.sort((ai << 32) + bi)
    # symmetric CSR sorted by (node, neighbor) via ONE packed int64
    # sort (a 4-pass lexsort re-faults four index arrays): indices
    # within a node's segment ascend, so membership probes could
    # binary-search
    packed = np.concatenate([(ai << 32) + bi, (bi << 32) + ai])
    packed.sort()
    degs = np.bincount(packed >> 32, minlength=m).astype(np.int64)
    dst = (packed & 0xFFFFFFFF).astype(np.int32)
    indptr = np.zeros(m + 1, np.int64)
    np.cumsum(degs, out=indptr[1:])
    if max_degree == "auto":
        max_degree = _auto_max_degree(
            zip(*np.unique(degs, return_counts=True))
        )
    capped = (
        degs <= max_degree
        if max_degree is not None
        else np.ones(m, dtype=bool)
    )
    bound = m
    if endpoints_below is not None:
        # bipartite projection: only HIGH-band centers, only LOW-band
        # endpoints (u iterates the low band; v is masked below)
        bound = int(np.searchsorted(nodes, endpoints_below))
        capped &= np.arange(m) >= bound
    bc = spark.sparkContext.broadcast(
        (nodes, indptr, dst, degs, capped, edge_keys, bound)
    )
    bip = endpoints_below is not None
    weighted = score == "ra_ppm"
    k, mc = int(top_k), int(min_common)

    def _score(batches):
        import numpy as np
        import pyarrow as pa

        nodes, indptr, indices, degs, capped, edge_keys, bound = bc.value
        # Per-chunk expansion budget: this host pays a brutal
        # first-touch cost on fresh large anonymous pages (measured
        # ~10-600µs/page under parallel workers) and glibc munmaps
        # buffers past the adaptive mmap threshold (≤32 MB), so arrays
        # bigger than that re-fault on EVERY chunk. 2M int64 elements
        # keeps every temporary ~16 MB — allocator-arena-resident and
        # page-warm after the first chunk.
        chunk_budget = 2_000_000

        def _gather(starts, cnts, total):
            """indices[starts[i] : starts[i]+cnts[i]] concatenated."""
            shift = np.cumsum(cnts) - cnts
            idx = np.arange(total, dtype=np.int64) + np.repeat(
                starts - shift, cnts
            )
            return indices[idx]

        for rb in batches:
            us_all = rb.column(0).to_numpy(zero_copy_only=False)
            if not len(us_all):
                continue
            outs = []
            # first-level fanout for the whole batch, then chunk the
            # node range by SECOND-level (capped Σdeg) weight so every
            # chunk's expansion arrays hit the budget
            cnt_u_all = degs[us_all]
            ends = np.cumsum(cnt_u_all)
            starts_off = ends - cnt_u_all
            xs_all = _gather(indptr[us_all], cnt_u_all, int(ends[-1]))
            keep_all = capped[xs_all]
            w_elem = np.where(keep_all, degs[xs_all], 0)
            cw = np.concatenate(([0], np.cumsum(w_elem)))
            w_u = cw[ends] - cw[starts_off]
            wcum = np.cumsum(w_u)
            n_cuts = int(wcum[-1]) // chunk_budget + 1
            cuts = np.searchsorted(
                wcum, np.arange(1, n_cuts) * chunk_budget
            )
            splits = np.unique(cuts)
            splits = splits[(splits > 0) & (splits < len(us_all))]
            bounds = [0, *splits.tolist(), len(us_all)]
            for i0, i1 in zip(bounds, bounds[1:]):
                if i0 == i1:
                    continue
                us = us_all[i0:i1]
                e0, e1 = int(starts_off[i0]), int(ends[i1 - 1])
                xs = xs_all[e0:e1]
                keep = keep_all[e0:e1]
                u_of_x = np.repeat(us, cnt_u_all[i0:i1])
                xs, u_of_x = xs[keep], u_of_x[keep]
                cnt_x = degs[xs]
                tot2 = int(cnt_x.sum())
                if not tot2:
                    continue
                vs = _gather(indptr[xs], cnt_x, tot2)
                us2 = np.repeat(u_of_x, cnt_x)
                mask = vs > us2
                if bip:
                    mask &= vs < bound
                keys = (us2[mask].astype(np.int64) << 32) + vs[mask]
                if not len(keys):
                    continue
                if weighted:
                    wts = np.repeat(1000000 // degs[xs], cnt_x)[mask]
                    order = np.argsort(keys, kind="stable")
                    keys, wts = keys[order], wts[order]
                else:
                    keys.sort()
                is_start = np.empty(len(keys), dtype=bool)
                is_start[0] = True
                np.not_equal(keys[1:], keys[:-1], out=is_start[1:])
                starts_i = np.flatnonzero(is_start)
                common = np.diff(np.append(starts_i, len(keys)))
                # runs that can still place: >= min_common, non-adjacent
                run = np.flatnonzero(common >= mc)
                uk = keys[starts_i[run]]
                if len(uk) and len(edge_keys):
                    pos = np.minimum(
                        np.searchsorted(edge_keys, uk),
                        len(edge_keys) - 1,
                    )
                    nonadj = edge_keys[pos] != uk
                    run, uk = run[nonadj], uk[nonadj]
                if not len(uk):
                    continue
                common = common[run]
                ui = (uk >> 32).astype(np.int64)
                vi = (uk & 0xFFFFFFFF).astype(np.int64)
                if weighted:
                    val = np.add.reduceat(wts, starts_i)[run]
                else:
                    val = common / (degs[ui] + degs[vi] - common)
                # top-k needs the full (val desc, common desc, a, b)
                # order only over rows that can still place: keep
                # val >= the k-th largest val (ties included — any row
                # below it is beaten by k rows outright), then lexsort
                # the small survivor set instead of every candidate
                if len(val) > 4 * k:
                    thr = np.partition(val, len(val) - k)[len(val) - k]
                    keep_top = val >= thr
                    ui, vi = ui[keep_top], vi[keep_top]
                    common, val = common[keep_top], val[keep_top]
                a_out, b_out = nodes[ui], nodes[vi]
                top = np.lexsort((b_out, a_out, -common, -val))[:k]
                outs.append((a_out[top], b_out[top], common[top], val[top]))
            if outs:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(c)) for c in zip(*outs)],
                    ["a", "b", "common", score],
                )

    return (
        spark.range(0, bound, 1, spark.sparkContext.defaultParallelism)
        .mapInArrow(
            _score,
            f"a long, b long, common long, {score} "
            + ("long" if weighted else "double"),
        )
    )


def _common_neighbour_top_k(
    pairs: DataFrame,
    score: str,
    cols: "tuple[str, ...]",
    top_k: int,
    min_common: int,
    max_degree: "int | str | None",
    endpoints_below: "int | None" = None,
) -> DataFrame:
    """The common-neighbour substrate under both link-prediction
    operators: the ``top_k`` NON-adjacent pairs with >= ``min_common``
    common neighbors of degree <= ``max_degree``, by (``score`` desc,
    common desc, a, b), as the columns ``cols``. ``score`` is
    ``"jaccard"`` or ``"ra_ppm"`` (each common neighbor z weighs
    ``1000000 div deg(z)``).

    At most ``_WEDGE_BROADCAST_MAX_EDGES`` symmetric edges, the
    broadcast-CSR scorer (:func:`_lp_intersect_scored`) runs with no
    shuffle; past the gate, one wedge count
    (:func:`_lp_wedge_scored`). ``_FORCE_LP_PATH`` forces either path.
    orderBy+limit compiles to TakeOrdered (per-partition top-k, no
    global sort), checkpointed before the persisted inputs are released.
    """
    e = canonical_undirected(pairs).persist(StorageLevel.MEMORY_AND_DISK)
    sym = None
    try:
        # materializes the persist either way; the count gates the path
        n_edges = e.count()
        use_intersect = 2 * n_edges <= _WEDGE_BROADCAST_MAX_EDGES
        if _FORCE_LP_PATH is not None:
            use_intersect = _FORCE_LP_PATH == "intersect"
        if use_intersect:
            scored = _lp_intersect_scored(
                e, n_edges, score, top_k, min_common, max_degree,
                endpoints_below,
            )
        else:
            sym = e.unionByName(
                e.select(F.col("b").alias("a"), F.col("a").alias("b"))
            ).persist(StorageLevel.MEMORY_AND_DISK)
            scored = _lp_wedge_scored(
                e, sym, score, min_common, max_degree, endpoints_below
            )
        return (
            scored.orderBy(
                F.col(score).desc(), F.col("common").desc(), "a", "b"
            )
            .limit(top_k)
            .select(*cols)
            .localCheckpoint(eager=True)
        )
    finally:
        e.unpersist()
        if sym is not None:
            sym.unpersist()


def _lp_wedge_scored(
    e: DataFrame,
    sym: DataFrame,
    score: str,
    min_common: int,
    max_degree: "int | str | None",
    endpoints_below: "int | None",
) -> DataFrame:
    """Every non-adjacent candidate (a, b, common, ``score``) from one
    wedge self-join over the persisted symmetric edges ``sym`` (volume
    Σ over kept centers of deg²), one count per packed pair key (and
    the centre weights' sum for RA), one anti-join against the edge set
    and, for Jaccard, one broadcastable degree join."""
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    if max_degree == "auto":
        # degree-histogram-driven cap: exact p99.9 by integer rank
        # (floored) — see _auto_max_degree. The derived value then
        # flows through the exact capped semantics below.
        max_degree = _auto_max_degree(
            deg.groupBy("deg").agg(F.count(F.lit(1))).collect()
        )
    # wedges centered at x: neighbors (a, b) of x with a < b. The
    # wedge frame is the volume driver (sum of deg² rows); when ids
    # fit 31 bits, pack the (u, v) pair into ONE long before the
    # count shuffle — half the shuffle width, single-column hash key
    # — and unpack after. (The `label_code << 48` production id
    # packing exceeds 31 bits, hence the runtime gate; both gate
    # metrics come off the already-tiny degree frame in one action.)
    kept_deg = (
        F.col("deg")
        if max_degree is None
        else F.when(F.col("deg") <= max_degree, F.col("deg"))
    )
    gate = deg.agg(
        F.max("a").alias("_mx"),
        F.sum(kept_deg).alias("_ne"),
        F.sum(
            (kept_deg * (kept_deg - 1) / 2).cast("bigint")
        ).alias("_nw"),
    ).collect()[0]
    max_id = gate["_mx"] or 0
    n_sym = gate["_ne"] or 0
    n_wedges = gate["_nw"] or 0
    centers = sym
    if endpoints_below is not None:
        # Bipartite-projection mode: only HIGH-band centers can emit
        # low-band candidate pairs, so drop low-band centers before
        # the self-join — their wedges would only produce mirror
        # pairs the output filter discards anyway.
        centers = centers.where(F.col("a") >= endpoints_below)
    if max_degree is not None:
        # Drop hub CENTERS before the self-join — this is what bounds
        # the wedge volume. AQE broadcasts the (id-only) keep set when
        # it is small; endpoints u, v stay uncapped.
        ok = deg.where(F.col("deg") <= max_degree).select("a")
        centers = centers.join(ok, "a", "left_semi")
    n1 = centers.select(F.col("a").alias("x"), F.col("b").alias("u"))
    n2 = centers.select(F.col("a").alias("x"), F.col("b").alias("v"))
    weighted = score == "ra_ppm"
    aggs = [F.count(F.lit(1)).alias("common")]
    if weighted:
        # the centre's ppm weight joins the per-node degree frame once,
        # on the adjacency side, instead of the deg²-row wedge frame
        n2 = n2.join(
            deg.select(
                F.col("a").alias("x"), F.expr("1000000 div deg").alias("_w")
            ),
            "x",
        )
        aggs.append(F.sum("_w").alias("ra_ppm"))
    w_cols = ["_w"] if weighted else []
    # Broadcasting one adjacency side turns the wedge join into a
    # map-side hash join: no sort of the deg²-sized join output
    # (measured 3x at sf0.1). Size-gated — past the gate the frame
    # won't fit executor memory and the shuffle join is correct.
    if n_sym <= _WEDGE_BROADCAST_MAX_EDGES:
        n2 = F.broadcast(n2)
    wedges = n1.join(n2, "x").where(F.col("u") < F.col("v"))
    # The wedge frame explodes an edge-sized input into ~sum C(deg,2)
    # rows, and counting it with the default two-phase hash agg
    # builds MAP-side hash tables over tens of millions of
    # mostly-low-multiplicity pair keys — borderline-heap spills and
    # 2-4x run-to-run variance (measured 19-24s vs a stable 14s at
    # sf0.1, 147M wedges). Past the gate, shuffle the RAW packed
    # rows to a width derived from the EXACT wedge count (already
    # computed in the gate agg) and aggregate clustered data
    # locally: a user repartition's shuffle origin blocks AQE
    # coalescing, each reduce task owns every copy of its keys, and
    # no oversized partial-agg map ever exists. ~1.5M wedge rows per
    # task keeps the per-task final-agg map tens of MB.
    wedge_npart = 0
    if n_wedges > _WEDGE_REPART_MIN_ROWS:
        wedge_npart = int(
            min(
                1024,
                max(
                    e.sparkSession.sparkContext.defaultParallelism,
                    n_wedges // 1_500_000,
                ),
            )
        )
    if 0 <= max_id < (1 << 31):
        # Cast to long BEFORE the shift: on IntegerType the JVM masks
        # the shift amount to 5 bits, so shiftleft(u, 32) == u — a
        # silently wrong pack that still passes the value-range gate.
        packed = wedges.select(
            (
                F.shiftleft(F.col("u").cast("long"), 32)
                + F.col("v").cast("long")
            ).alias("_uv"),
            *w_cols,
        )
        if wedge_npart:
            packed = packed.repartition(wedge_npart, "_uv")
        cn = (
            packed.groupBy("_uv")
            .agg(*aggs)
            .where(F.col("common") >= min_common)
            .select(
                F.shiftright("_uv", 32).alias("a"),
                (
                    F.col("_uv")
                    - (F.shiftright("_uv", 32) * F.lit(1 << 32))
                ).alias("b"),
                "*",
            )
            .drop("_uv")
        )
    else:
        unpacked = wedges.select(
            F.col("u").alias("a"), F.col("v").alias("b"), *w_cols
        )
        if wedge_npart:
            unpacked = unpacked.repartition(wedge_npart, "a", "b")
        cn = (
            unpacked.groupBy("a", "b")
            .agg(*aggs)
            .where(F.col("common") >= min_common)
        )
    cand = cn.join(e, ["a", "b"], "left_anti")
    if endpoints_below is not None:
        # Bipartite-projection mode: with one node class offset into
        # a high id band, wedges centered on that class produce the
        # projection's similar pairs and wedges centered on the low
        # class produce the mirror-image pairs — this keeps only
        # candidates whose BOTH endpoints sit in the low band, BEFORE
        # the top-k so the ranking is over the projection alone.
        cand = cand.where(
            (F.col("a") < endpoints_below)
            & (F.col("b") < endpoints_below)
        )
    if weighted:
        return cand
    # deg has at most n_sym rows — same gate as the adjacency side;
    # past it the per-node frame can't broadcast and the candidate
    # set (already wedge-bounded) shuffle-joins instead.
    da = deg.select(F.col("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("a").alias("b"), F.col("deg").alias("_db"))
    if n_sym <= _WEDGE_BROADCAST_MAX_EDGES:
        da = F.broadcast(da)
        db = F.broadcast(db)
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            (
                F.col("common")
                / (F.col("_da") + F.col("_db") - F.col("common"))
            ).alias("jaccard"),
        )
    )


def link_prediction_jaccard(
    pairs: DataFrame,
    top_k: int = 50,
    min_common: int = 2,
    max_degree: "int | str | None" = None,
    endpoints_below: int | None = None,
) -> DataFrame:
    """Neighborhood-overlap link prediction over an undirected (a, b)
    pair frame: for every NON-adjacent node pair with >= ``min_common``
    common neighbors, the common-neighbor count and Jaccard coefficient
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)|; returns the ``top_k`` candidate links
    (a, b, common, jaccard) by (jaccard desc, common desc, a, b) — a
    deterministic total order.

    ``max_degree`` caps the wedge volume — the scale knob for skewed
    graphs. Pass ``"auto"`` to derive the cap from the graph's own
    degree histogram (exact integer-rank p99.9, floored at
    ``_AUTO_MAX_DEGREE_FLOOR`` — see :func:`_auto_max_degree`), so a
    100x-larger graph tunes itself instead of inheriting a hand-picked
    constant. Wedges are only generated from CENTERS (common neighbors)
    whose degree is <= ``max_degree``; a single hub of degree d otherwise
    emits d² wedge rows (O(sum deg²) total, the same blow-up triangle
    counting avoids via degree orientation). Semantics under the cap:
    ``common`` counts only common neighbors of degree <= ``max_degree``
    (hub-mediated evidence is dropped — the Adamic-Adar intuition that a
    shared hub says little), while the Jaccard DENOMINATOR keeps the TRUE
    degrees of a and b. Exact whenever no node exceeds the cap; with
    ``None`` (default) the count is exact on any graph.

    ``endpoints_below`` turns the operator into a BIPARTITE PROJECTION
    scorer: offset one node class into a high id band (>= the value),
    and only pairs with both endpoints in the low band are ranked —
    shared high-band neighbors are the evidence (e.g. customers offset
    against parts: "similar customers by co-purchased parts"). Low-band
    centers are dropped before the self-join since their wedges could
    only produce the discarded mirror pairs.

    Runs on the common-neighbour substrate
    (:func:`_common_neighbour_top_k`): broadcast-CSR intersection below
    the ``_WEDGE_BROADCAST_MAX_EDGES`` gate, one wedge count past it.
    """
    return _common_neighbour_top_k(
        pairs, "jaccard", ("a", "b", "common", "jaccard"), top_k,
        min_common, max_degree, endpoints_below,
    )


def personalized_pagerank(
    g: PropertyGraph,
    source_ids: Sequence[int],
    edge_labels: Sequence[str] | None = None,
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """Personalized PageRank, the proximity score "how reachable is v
    from S by short random walks": :func:`pagerank`'s own iteration
    (:func:`_rank_iterate`) with a reset vector of 1/|S| on the sources,
    0 elsewhere. The rank starts there, and the teleport and dangling
    mass return to it instead of spreading uniformly. Fixed iteration
    count, deterministic. Returns (id, rank) for every node; ranks sum
    to ~1."""
    if not source_ids:
        raise ValueError("source_ids must be non-empty")
    src_set = [int(s) for s in source_ids]
    reset = F.when(
        F.col("id").isin(src_set), F.lit(1.0 / len(src_set))
    ).otherwise(F.lit(0.0))
    edges = _edge_pairs(g, edge_labels, directed=True)
    return _rank_iterate(
        g.nodes, edges, damping, n_iter, reset, "personalized_pagerank"
    )


def triplets(g: PropertyGraph) -> DataFrame:
    """The GraphX triplet view in DataFrame form: one row per edge with
    the full source and destination node rows attached as structs —
    columns (edge STRUCT, src STRUCT, dst STRUCT). Two hash joins on
    node id; Catalyst broadcasts the node side when it is small and
    prunes unused struct fields from the scans (struct field access is
    column-pruning-transparent in parquet)."""
    e = g.edges.select(F.struct(*g.edges.columns).alias("edge"))
    e = e.select(
        "edge", F.col("edge.src").alias("_s"), F.col("edge.dst").alias("_d")
    )
    n_src = g.nodes.select(
        F.col("id").alias("_s"), F.struct(*g.nodes.columns).alias("src")
    )
    n_dst = g.nodes.select(
        F.col("id").alias("_d"), F.struct(*g.nodes.columns).alias("dst")
    )
    return e.join(n_src, "_s").join(n_dst, "_d").select("edge", "src", "dst")


def aggregate_messages(
    g: PropertyGraph,
    agg,
    to_dst=None,
    to_src=None,
) -> DataFrame:
    """GraphX's aggregateMessages primitive, DataFrame-native: evaluate
    message expressions over the triplet view (columns ``edge``, ``src``,
    ``dst`` — structs of the full rows), send to either endpoint, and
    aggregate per receiving node. This is the user-facing primitive
    (``GraphDB.aggregate_messages`` and the ``aggmsg_max_acctbal``
    query call it): it makes
    user-defined graph aggregations first-class without touching RDDs.
    The loops in this module do not call it; they join their own
    narrower (a, b) edge frames against a per-node state instead of the
    full triplet view.

    ``to_dst`` / ``to_src``: Column expressions over the triplet (NULL
    messages are dropped, mirroring GraphX's sendMsg not calling
    sendToDst). ``agg``: a Column aggregate over the message column
    ``msg`` (e.g. ``F.max("msg")``, ``F.sum("msg")``). Returns
    (id, <agg alias>). One shuffle keyed by node id after the triplet
    joins.
    """
    if to_dst is None and to_src is None:
        raise ValueError("at least one of to_dst/to_src required")
    t = triplets(g)
    parts = []
    if to_dst is not None:
        parts.append(
            t.select(F.col("dst.id").alias("id"), to_dst.alias("msg"))
        )
    if to_src is not None:
        parts.append(
            t.select(F.col("src.id").alias("id"), to_src.alias("msg"))
        )
    msgs = parts[0]
    for p in parts[1:]:
        msgs = msgs.unionByName(p)
    return msgs.where(F.col("msg").isNotNull()).groupBy("id").agg(agg)


def rich_club(
    pairs: DataFrame, ks: Sequence[int] = (16, 32, 64, 96)
) -> DataFrame:
    """Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k − 1)) for each
    requested k, where N_k = nodes of degree > k and E_k = edges whose
    BOTH endpoints have degree > k (Zhou & Mondragón 2004) — "how
    densely do the hubs talk to each other", the connectivity
    complement of :func:`degree_assortativity`.

    One degree aggregation, two (broadcast-gated) degree joins, then a
    SINGLE global aggregate computing every k's node and edge counts as
    conditional integer sums — len(ks) never multiplies the edge-frame
    work, and the only float op per k is the final 2E/(N(N−1))
    division, so a SQL oracle reproduces φ exactly. Returns one row per
    k: (k, n_nodes, n_edges, phi), phi = 0.0 when N_k < 2.
    """
    if not ks:
        raise ValueError("ks must be non-empty")
    ks = sorted(set(int(k) for k in ks))
    e = canonical_undirected(pairs).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        sym = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        nodes_row = deg.agg(
            *[
                F.sum((F.col("deg") > k).cast("long")).alias(f"_n{k}")
                for k in ks
            ]
        )
        dx = deg.select(F.col("a"), F.col("deg").alias("_da"))
        dy = deg.select(F.col("a").alias("b"), F.col("deg").alias("_db"))
        if e.count() <= _WEDGE_BROADCAST_MAX_EDGES:
            dx = F.broadcast(dx)
            dy = F.broadcast(dy)
        mind = F.least("_da", "_db")
        edges_row = (
            e.join(dx, "a")
            .join(dy, "b")
            .agg(
                *[
                    F.sum((mind > k).cast("long")).alias(f"_e{k}")
                    for k in ks
                ]
            )
        )
        combined = nodes_row.crossJoin(F.broadcast(edges_row))
        per_k = F.array(
            *[
                F.struct(
                    F.lit(k).alias("k"),
                    F.coalesce(F.col(f"_n{k}"), F.lit(0)).alias("n_nodes"),
                    F.coalesce(F.col(f"_e{k}"), F.lit(0)).alias("n_edges"),
                )
                for k in ks
            ]
        )
        rows = combined.select(
            F.explode(per_k).alias("_r")
        ).select("_r.k", "_r.n_nodes", "_r.n_edges")
        return rows.select(
            "k",
            "n_nodes",
            "n_edges",
            F.when(
                F.col("n_nodes") >= 2,
                (F.lit(2) * F.col("n_edges")).cast("double")
                / (F.col("n_nodes") * (F.col("n_nodes") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("phi"),
        ).localCheckpoint(eager=True)
    finally:
        e.unpersist()


def degree_assortativity(pairs: DataFrame) -> DataFrame:
    """Newman's degree assortativity coefficient r of an undirected
    (a, b) pair frame: the Pearson correlation of the degrees at the two
    ends of every edge (each edge contributes both orientations, the
    standard undirected convention).

    Exactness design: all five moment sums (n, Σx, Σxy, Σx², and by
    symmetry Σy ≡ Σx) are EXACT integer aggregates carried as
    DECIMAL(38,0); only the final
    r = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) touches floating point — two
    decimal→double conversions and one division — so a SQL oracle doing
    the same integer math reproduces r bit-for-bit (modulo an agreed
    final rounding). One degree aggregation + two broadcastable degree
    joins + one global aggregate; nothing quadratic, no per-row floats.
    Returns a single row (n_edges, assortativity).
    """
    e = canonical_undirected(pairs)
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # deg is one row per node (≤ |sym|) — broadcast behind the same
    # size gate as the wedge joins; at counts past it both degree joins
    # shuffle on the arc endpoint instead of shipping a per-node frame
    # to every executor.
    dx = deg.select(F.col("a"), F.col("deg").alias("dx"))
    dy = deg.select(F.col("a").alias("b"), F.col("deg").alias("dy"))
    if sym.count() <= _WEDGE_BROADCAST_MAX_EDGES:
        dx = F.broadcast(dx)
        dy = F.broadcast(dy)
    j = sym.join(dx, "a").join(dy, "b")
    s = j.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(dec(F.col("dx"))).alias("_sx"),
        F.sum(dec(F.col("dx")) * dec(F.col("dy"))).alias("_sxy"),
        F.sum(dec(F.col("dx")) * dec(F.col("dx"))).alias("_sxx"),
    )
    n = dec(F.col("_n"))
    num = (n * F.col("_sxy") - F.col("_sx") * F.col("_sx")).cast("double")
    den = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    try:
        return s.select(
            (F.col("_n") / 2).cast("long").alias("n_edges"),
            F.round(num / den, 6).alias("assortativity"),
        ).localCheckpoint(eager=True)
    finally:
        sym.unpersist()


def walk_skipgram_pairs(
    walks: DataFrame, n_steps: int, window: int = 2
) -> DataFrame:
    """Skip-gram (center, context) co-occurrence counts from a walk
    corpus — the training-pair generator that turns :func:`random_walks`
    output into DeepWalk/node2vec embedding data (Perozzi et al., KDD
    2014 §4.2): every ordered node pair within ``window`` positions of
    each other on the same walk, counted.

    Per-walk self-join on walk_id: each walk contributes at most
    (steps+1)·2·window pairs, so the output is LINEAR in the corpus and
    the join key (walk_id) partitions evenly by construction — walk
    corpora are embarrassingly parallel regardless of graph skew.
    Returns (center, context, n_pairs).
    """
    steps = [F.col(f"step_{i}") for i in range(n_steps + 1)]
    pos = walks.select(
        "walk_id", F.posexplode(F.array(*steps)).alias("pos", "node")
    )
    a = pos.select(
        "walk_id", F.col("pos").alias("_pi"), F.col("node").alias("center")
    )
    b = pos.select(
        "walk_id", F.col("pos").alias("_pj"), F.col("node").alias("context")
    )
    return (
        a.join(b, "walk_id")
        .where(
            (F.col("_pi") != F.col("_pj"))
            & (F.abs(F.col("_pi") - F.col("_pj")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def community_modularity(
    pairs: DataFrame, assignment: DataFrame
) -> DataFrame:
    """Newman-Girvan modularity Q of a community ``assignment``
    (id, community) over an undirected (a, b) pair frame:

        Q = Σ_c [ e_c/m − (d_c / 2m)² ]

    (e_c = intra-community edges, d_c = total degree of community c,
    m = undirected edge count) — THE standard quality score for the
    partitions label_propagation / connected-components emit.

    Exactness design (same contract as :func:`degree_assortativity`):
    with A = 2m symmetric arcs and W = intra-community arcs,
    Q = (A·W − Σ_c d_c²) / A² — numerator and denominator are exact
    integer aggregates carried as DECIMAL(38,0); one double division +
    an agreed round(6) at the end, so a SQL oracle reproduces Q
    bit-for-bit.

    Plan shape: two shuffle joins tag each arc endpoint with its
    community (the assignment is keyed by node id — at scale both joins
    co-partition on the arc endpoint, and AQE broadcasts the assignment
    side when it is small); then one degree aggregation and two scalar
    aggregates. Nothing quadratic, no collect.
    """
    e = canonical_undirected(pairs)
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    asg = assignment.select("id", "community")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tagged = sym.join(
        asg.select(F.col("id").alias("a"), F.col("community").alias("ca")),
        "a",
    ).join(
        asg.select(F.col("id").alias("b"), F.col("community").alias("cb")),
        "b",
    )
    arcs = tagged.agg(
        F.count(F.lit(1)).alias("_arcs"),
        F.sum(
            F.when(F.col("ca") == F.col("cb"), 1).otherwise(0)
        ).alias("_within"),
    )
    # d_c² summed over communities: degree per node → sum per community.
    dsq = (
        tagged.groupBy("a", "ca")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .groupBy("ca")
        .agg(F.sum(dec(F.col("_deg"))).alias("_dc"))
        .agg(
            F.sum(F.col("_dc") * F.col("_dc")).alias("_sum_dc2"),
            F.count(F.lit(1)).alias("_n_comm"),
        )
    )
    j = arcs.crossJoin(F.broadcast(dsq))  # two 1-row frames
    a_ = dec(F.col("_arcs"))
    num = (a_ * dec(F.col("_within")) - F.col("_sum_dc2")).cast("double")
    den = (a_ * a_).cast("double")
    return j.select(
        (F.col("_arcs") / 2).cast("long").alias("n_edges"),
        F.col("_n_comm").cast("long").alias("n_communities"),
        F.round(num / den, 6).alias("modularity"),
    )


def random_walks(
    pairs: DataFrame,
    n_seeds: int = 64,
    n_steps: int = 4,
    salt: str = "w",
) -> DataFrame:
    """Deterministic uniform random walks over an undirected (a, b) pair
    frame — the corpus generator for DeepWalk/node2vec-style graph
    embeddings, with hash-derived (seedable, reproducible) choices
    instead of RNG state.

    Seeds are the ``n_seeds`` lowest node ids with at least one edge;
    one walk starts at each seed. At step t the walk at node v moves to
    neighbor rank ``md5_63(walk_id:t:salt) mod deg(v)`` in the
    (ascending-by-neighbor-id) adjacency ranking — fully deterministic
    across runs, partitionings, and engines (the md5-derived value is
    reproducible in SQL, functions/hashing.py).

    Scale shape, two regimes gated statically on ``n_seeds`` (a
    driver-side integer, so the choice costs nothing at plan time):

    - ``n_seeds <= _WALK_BROADCAST_MAX_SEEDS``: NOTHING global is ever
      ranked or aggregated. Each step broadcast-semi-joins the
      persisted symmetric edge frame down to the frontier's adjacency
      (≤ walks × max-degree rows — the only frame a 64-walk query
      actually needs), ranks THAT with a window whose input is
      frontier-sized, and picks rank ``target`` per walk. The full
      edge frame is only ever scanned (broadcast hash join, no
      exchange); per-step cost is O(frontier adjacency), independent
      of |E| beyond the scan.
    - larger ``n_seeds`` (embedding-corpus generation, walks from every
      node): the walk frame no longer fits a broadcast, so the
      adjacency is ranked ONCE globally (one window shuffle keyed by
      node — the layout a bucketed adjacency table gives for free) and
      each step is a shuffle equi-join walk ⋈ adjacency on
      (node, rank) — one output row per walk per step, never a
      Σdeg-sized candidate explosion.

    Both regimes rank a node's full adjacency identically, so the
    md5-rank pick — and the SQL oracle that ranks globally — is
    unchanged by the gate.

    Returns one row per walk: (walk_id, step_0, ..., step_{n_steps}).
    """
    from pyspark.sql import Window

    broadcast_walks = n_seeds <= _WALK_BROADCAST_MAX_SEEDS
    e = canonical_undirected(pairs)
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    adj = None
    try:
        state = (
            sym.select("a")
            .distinct()
            .orderBy("a")
            .limit(n_seeds)
            .select(
                F.col("a").alias("walk_id"), F.col("a").alias("step_0")
            )
            .localCheckpoint(eager=True)
        )
        if not broadcast_walks:
            nwin = Window.partitionBy("a")
            adj = sym.select(
                "a",
                "b",
                F.row_number().over(nwin.orderBy("b")).alias("_idx"),
                F.count(F.lit(1)).over(nwin).alias("_deg"),
            ).localCheckpoint(eager=True)
        from akka_graph_db_spark.functions.hashing import md5_63

        for t in range(1, n_steps + 1):
            cur = f"step_{t - 1}"
            draw = md5_63(
                F.concat_ws(
                    ":",
                    F.col("walk_id").cast("string"),
                    F.lit(str(t)),
                    F.lit(salt),
                )
            )
            if broadcast_walks:
                # Frontier-gated adjacency: only the current nodes'
                # edges leave the scan. Per-node rank/degree computed
                # on this subset are identical to the global values (a
                # node's whole adjacency is either in or out).
                frontier = state.select(
                    F.col(cur).alias("_cn")
                ).distinct()
                fadj = sym.join(
                    F.broadcast(frontier), sym["a"] == F.col("_cn")
                ).select("a", "b")
                nwin = Window.partitionBy("a")
                ranked = fadj.select(
                    "a",
                    "b",
                    F.row_number().over(nwin.orderBy("b")).alias("_idx"),
                    F.count(F.lit(1)).over(nwin).alias("_deg"),
                )
                state = F.broadcast(state).join(
                    ranked, F.col(cur) == ranked["a"]
                )
            else:
                state = state.join(adj, F.col(cur) == adj["a"])
            state = (
                state.withColumn(
                    "_target", F.pmod(draw, F.col("_deg")) + 1
                )
                .where(F.col("_idx") == F.col("_target"))
                .drop("a", "_idx", "_deg", "_target")
                .withColumnRenamed("b", f"step_{t}")
            )
            if broadcast_walks:
                # Materialize the (n_seeds-row) walk frame so step t+1's
                # frontier doesn't lazily recompute steps 1..t — each of
                # which rescans the full edge frame in this regime.
                state = state.localCheckpoint(eager=True)
        return state.select(
            "walk_id", *[f"step_{t}" for t in range(n_steps + 1)]
        )
    finally:
        sym.unpersist()


def node2vec_walks(
    pairs: DataFrame,
    n_seeds: int = 64,
    n_steps: int = 4,
    w_return: int = 2,
    w_common: int = 2,
    w_far: int = 1,
    salt: str = "n2v",
) -> DataFrame:
    """node2vec-biased walks (Grover & Leskovec, KDD 2016 §3.2) with
    INTEGER class weights and hash-derived choices — fully
    deterministic and SQL-reproducible, unlike the reference
    implementation's alias-sampling RNG.

    The search bias α is quantized to integers: a step from ``cur``
    (having arrived from ``prev``) weights each neighbor x of cur by
    ``w_return`` if x == prev, ``w_common`` if x is adjacent to prev,
    else ``w_far`` (the classic 1/p, 1, 1/q triple cleared of
    denominators — defaults encode p=1, q=2). The choice is
    ``md5_63(walk:step:salt) mod Σweights`` mapped onto the
    cumulative-weight ranking of the (id-ordered) adjacency — exact
    integer arithmetic end to end. Step 1 (no prev) is uniform, the
    :func:`random_walks` rule.

    Scale shape: step t expands each walk to its current node's FULL
    adjacency (the inherent cost of node2vec's neighbor
    classification), classifies via one semi-join against prev's
    adjacency, and picks with one windowed cumulative sum partitioned
    per walk — per-step cost O(Σ deg(cur) over walks), linear in walk
    count and independent of global graph size. The walk frame stays
    the broadcast side; adjacency never ships. Step 1's uniform rank
    is frontier-gated under ``_WALK_BROADCAST_MAX_SEEDS`` (see
    :func:`random_walks`) so small seed sets never rank |E| globally.

    Returns one row per walk: (walk_id, step_0, ..., step_{n_steps}).
    """
    from pyspark.sql import Window

    from akka_graph_db_spark.functions.hashing import md5_63

    e = canonical_undirected(pairs)
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # sym is already persisted; a localCheckpoint on top would pay a
        # second full materialization for a lineage cut nothing needs
        # (every loop join re-reads the SAME cached frame).
        sym.count()
        adj = sym
        state = (
            adj.select("a")
            .distinct()
            .orderBy("a")
            .limit(n_seeds)
            .select(
                F.col("a").alias("walk_id"), F.col("a").alias("step_0")
            )
            .localCheckpoint(eager=True)
        )

        def _draw(t):
            return md5_63(
                F.concat_ws(
                    ":",
                    F.col("walk_id").cast("string"),
                    F.lit(str(t)),
                    F.lit(salt),
                )
            )

        # step 1: uniform over cur's ranked adjacency (no prev yet —
        # the random_walks rule). Small seed sets rank only the
        # frontier's adjacency (see random_walks: a node's subset rank
        # equals its global rank); large seed sets rank globally once.
        nwin = Window.partitionBy("a")
        if n_seeds <= _WALK_BROADCAST_MAX_SEEDS:
            frontier = state.select(
                F.col("step_0").alias("_cn")
            ).distinct()
            fadj = adj.join(
                F.broadcast(frontier), adj["a"] == F.col("_cn")
            ).select("a", "b")
            ranked = fadj.select(
                "a",
                "b",
                F.row_number().over(nwin.orderBy("b")).alias("_idx"),
                F.count(F.lit(1)).over(nwin).alias("_deg"),
            )
            state = F.broadcast(state).join(
                ranked, F.col("step_0") == ranked["a"]
            )
        else:
            ranked = adj.select(
                "a",
                "b",
                F.row_number().over(nwin.orderBy("b")).alias("_idx"),
                F.count(F.lit(1)).over(nwin).alias("_deg"),
            )
            state = state.join(ranked, F.col("step_0") == ranked["a"])
        state = (
            state.withColumn(
                "_target", F.pmod(_draw(1), F.col("_deg")) + 1
            )
            .where(F.col("_idx") == F.col("_target"))
            .drop("a", "_idx", "_deg", "_target")
            .withColumnRenamed("b", "step_1")
            .localCheckpoint(eager=True)
        )
        for t in range(2, n_steps + 1):
            cur, prev = f"step_{t - 1}", f"step_{t - 2}"
            # expand each walk to cur's adjacency, id-ordered
            cand = F.broadcast(state).join(
                adj.select(
                    F.col("a").alias(cur), F.col("b").alias("_nbr")
                ),
                cur,
            )
            # classify: return / common (nbr adjacent to prev) / far.
            # A left-semi join can only broadcast its RIGHT side, so
            # joining cand against the full adjacency would shuffle |E|
            # every step; gate prev's adjacency down to the walks' prev
            # nodes first (frontier-sized) and broadcast THAT.
            prev_adj = adj.select(
                F.col("a").alias(prev), F.col("b").alias("_nbr")
            )
            if n_seeds <= _WALK_BROADCAST_MAX_SEEDS:
                pfront = state.select(F.col(prev).alias("_pn")).distinct()
                prev_adj = F.broadcast(
                    prev_adj.join(
                        F.broadcast(pfront),
                        F.col(prev) == F.col("_pn"),
                        "left_semi",
                    )
                )
            common = cand.join(prev_adj, [prev, "_nbr"], "left_semi")
            cand = cand.join(
                common.select("walk_id", "_nbr").withColumn(
                    "_is_common", F.lit(1)
                ),
                ["walk_id", "_nbr"],
                "left",
            ).withColumn(
                "_w",
                F.when(F.col("_nbr") == F.col(prev), F.lit(w_return))
                .when(F.col("_is_common") == 1, F.lit(w_common))
                .otherwise(F.lit(w_far)),
            )
            wwin = Window.partitionBy("walk_id").orderBy("_nbr")
            cand = cand.select(
                "*",
                F.sum("_w").over(wwin).alias("_cum"),
                F.sum("_w")
                .over(Window.partitionBy("walk_id"))
                .alias("_tot"),
                F.row_number().over(wwin).alias("_rn"),
                F.count(F.lit(1))
                .over(Window.partitionBy("walk_id"))
                .alias("_n"),
            )
            # a walk whose every candidate weighs 0 (e.g. a dead end
            # whose only neighbor is `prev` under w_return=0) falls back
            # to a uniform choice — it must go somewhere
            zero = F.col("_tot") == 0
            cand = (
                cand.withColumn(
                    "_we", F.when(zero, F.lit(1)).otherwise(F.col("_w"))
                )
                .withColumn(
                    "_cume", F.when(zero, F.col("_rn")).otherwise(F.col("_cum"))
                )
                .withColumn(
                    "_tote", F.when(zero, F.col("_n")).otherwise(F.col("_tot"))
                )
                .withColumn("_pick", F.pmod(_draw(t), F.col("_tote")) + 1)
            )
            state = (
                cand.where(
                    (F.col("_cume") >= F.col("_pick"))
                    & (F.col("_cume") - F.col("_we") < F.col("_pick"))
                )
                .withColumnRenamed("_nbr", f"step_{t}")
                .drop(
                    "_is_common", "_w", "_we", "_cum", "_cume",
                    "_tot", "_tote", "_rn", "_n", "_pick",
                )
                .localCheckpoint(eager=True)
            )
        return state.select(
            "walk_id", *[f"step_{t}" for t in range(n_steps + 1)]
        )
    finally:
        sym.unpersist()


def landmark_hop_distances(
    pairs: DataFrame,
    landmarks: int | Sequence[int] = 8,
    max_depth: int = 4,
) -> DataFrame:
    """Hop distances from a landmark set over an undirected (a, b) pair
    frame — GraphX's ``shortestPaths`` (landmark BFS) in DataFrame form,
    and the estimator substrate for sampled centralities
    (Eppstein-Wang 2001). Returns (landmark, id, dist) for every node
    within ``max_depth`` hops of each landmark; dist is the FIRST-hit
    (minimum) hop count, landmark rows themselves carry dist 0.

    ``landmarks``: an explicit id sequence, or an int k meaning "the k
    lowest node ids that have at least one edge" (picked in-plan — no
    driver-side id collection).

    Scale shape: one BFS frontier per landmark advances CONCURRENTLY in
    the same superstep join (state rows are (landmark, node) pairs, so k
    landmarks cost one k×-wider frontier, not k sequential BFS runs);
    the loop is :func:`_hop_bfs`, seeded with the landmarks at dist 0.
    Keep k modest (its purpose is sampling, not all-pairs).
    """

    def seed(sym: DataFrame) -> tuple[DataFrame, bool]:
        ids, small = _landmark_seeds(sym, landmarks)
        return (
            ids.select(
                F.col("a").alias("landmark"),
                F.col("a").alias("id"),
                F.lit(0).alias("dist"),
                F.lit(True).alias("_new"),
            ),
            small,
        )

    return _hop_bfs(
        _symmetric(pairs), seed, max_depth, "landmark_hop_distances"
    ).drop("_new")


def _landmark_seeds(
    sym: DataFrame, landmarks: int | Sequence[int]
) -> tuple[DataFrame, bool]:
    """The landmark ids (a) of a sampled sweep over the symmetric edge
    frame ``sym`` — an explicit sequence, or an int k meaning the k
    lowest ids that have an edge — and whether landmarks × vertices is
    under the broadcast gate. The vertex count is this helper's one job;
    on a persisted ``sym`` it also fills the cache."""
    n_vertices = sym.select("a").distinct().count()
    if isinstance(landmarks, int):
        ids = sym.select("a").distinct().orderBy("a").limit(landmarks)
        n_land = landmarks
    else:
        ids = sym.sparkSession.createDataFrame(
            [(int(x),) for x in landmarks], "a bigint"
        )
        n_land = len(landmarks)
    return ids, n_land * n_vertices <= _CC_BROADCAST_MAX_VERTICES


def _hop_bfs(
    adj: DataFrame,
    seed: Callable[[DataFrame], tuple[DataFrame, bool]],
    n_rounds: int,
    label: str,
) -> DataFrame:
    """Multi-source BFS over the (a, b) adjacency ``adj``, the loop of
    :func:`landmark_hop_distances` and :func:`khop_neighbors`.
    ``seed(adj)`` gets the persisted adjacency and returns the initial
    visited frame (landmark, id, dist, _new) and whether it may be
    broadcast (landmarks × vertices under the gate). Each round expands
    the ``_new`` rows by one hop at their ``dist + 1``, drops rows that
    reach their own landmark or are already visited, and unions the rest
    as the next ``_new`` rows; the loop stops after ``n_rounds`` rounds
    or at the first round with no new row. Returns the visited frame, a
    checkpoint.

    The adjacency is hash-partitioned by the REACHED endpoint ``b`` once
    and persisted (released on exit); with the visited frames broadcast,
    each round's expansion join, per-layer distinct and visited anti-join
    all run WITHOUT an exchange (HashPartitioning on the reached node is
    a subset of every grouping/join key set). Past the gate, the joins
    fall back to shuffles. The step reads its state three times, so
    every round is checkpointed."""
    npart = adj.sparkSession.sparkContext.defaultParallelism
    adj = adj.repartition(npart, F.col("b")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        visited, small = seed(adj)

        def bc(df: DataFrame) -> DataFrame:
            return F.broadcast(df) if small else df

        def step(visited: DataFrame) -> DataFrame:
            frontier = visited.where(F.col("_new")).select(
                "landmark", F.col("id").alias("a"), "dist"
            )
            nxt = (
                adj.join(bc(frontier), "a")
                .where(F.col("b") != F.col("landmark"))
                .select(
                    "landmark",
                    F.col("b").alias("id"),
                    (F.col("dist") + 1).alias("dist"),
                )
                .distinct()
                .join(
                    bc(visited.select("landmark", "id")),
                    ["landmark", "id"],
                    "left_anti",
                )
                .withColumn("_new", F.lit(True))
            )
            return visited.withColumn("_new", F.lit(False)).unionByName(nxt)

        return _supersteps(
            visited.localCheckpoint(eager=True),
            step,
            n_rounds,
            label,
            checkpoint_every=1,
            converged=lambda st: st.where(F.col("_new")).count() == 0,
        )
    finally:
        adj.unpersist()


def betweenness_landmarks(
    pairs: DataFrame,
    landmarks: int | Sequence[int] = 8,
    max_depth: int = 3,
    level: str = "node",
) -> DataFrame:
    """Bounded-distance betweenness centrality, Brandes' algorithm from a
    landmark sample (Brandes 2001; landmark/bounded sampling per
    Brandes-Pich 2007): forward BFS layers carry shortest-path counts σ,
    the backward sweep accumulates dependencies
    δ(v) = Σ_{w: v∈pred(w)} σv/σw · (1 + δ(w)), and B(v) = Σ_s δ_s(v).
    Paths longer than ``max_depth`` are ignored (bounded-distance
    variant) and only ``landmarks`` sources contribute — both standard
    estimators; exact when landmarks = all nodes and max_depth ≥
    diameter.

    Scale shape: all landmarks advance in the SAME superstep joins
    (state keyed by (landmark, node) like
    :func:`landmark_hop_distances`). r7 plan shape: TWO co-partitioned
    persisted copies of the symmetric edge frame — hashed by ``b`` for
    the forward sweep (whose aggregation groups on the reached node)
    and by ``a`` for the backward sweep (which groups on the
    predecessor) — with every (landmark, node) state frame broadcast
    behind a size gate. Each superstep is then broadcast-join +
    exchange-FREE aggregation over the cached edge partitions
    (HashPartitioning on a subset of the grouping keys satisfies the
    clustered distribution): the per-layer DAG-edge volume
    (landmarks × Σdeg) is never reshuffled. Past the gate, the joins
    fall back to shuffles — the still-correct big-graph path. Returns
    (id, betweenness) for every node with a nonzero score.

    The forward sweep runs on :func:`_supersteps`: its state is every
    layer so far, (s, id, sig, dist, _new), checkpointed each round (the
    step reads it three times), and it stops at the first round with no
    new row. It stays apart from :func:`_hop_bfs` because σ is a
    ``sum`` of longs, which throws on overflow in ANSI mode; hop
    distances must not pick up that failure. The backward sweep reads
    layer d as the rows with ``dist == d``; its length is known, so it
    is a plain loop.

    ``level="edge"`` returns Girvan-Newman EDGE betweenness instead:
    the per-DAG-edge dependency σv/σw · (1 + δ(w)) — the exact term the
    backward sweep already forms before its per-node aggregation — is
    kept per edge and summed over landmarks onto the canonical
    undirected edge, giving (a, b, edge_betweenness). Same sweeps, same
    shuffle shape; only the final grouping key changes. Edge
    betweenness is the community-cut signal (Girvan-Newman 2002): the
    highest-scoring edges are the bridges between modules.
    """
    if level not in ("node", "edge"):
        raise ValueError("level must be 'node' or 'edge'")
    sym_b = _persisted_sym(pairs, "b")
    sym_a = _persisted_sym(pairs, "a")
    try:
        seed_ids, small = _landmark_seeds(sym_a, landmarks)

        def bc(df: DataFrame) -> DataFrame:
            return F.broadcast(df) if small else df

        def forward(st: DataFrame) -> DataFrame:
            # the next BFS layer: σ summed over the last layer's edges
            # into every node no earlier layer reached
            nxt = (
                sym_b.join(
                    bc(
                        st.where(F.col("_new")).select(
                            "s", F.col("id").alias("a"), "sig", "dist"
                        )
                    ),
                    "a",
                )
                .select(
                    "s",
                    F.col("b").alias("id"),
                    "sig",
                    (F.col("dist") + 1).alias("dist"),
                )
                .join(bc(st.select("s", "id")), ["s", "id"], "left_anti")
                .groupBy("s", "id", "dist")
                .agg(F.sum("sig").alias("sig"))
                .withColumn("_new", F.lit(True))
            )
            return st.withColumn("_new", F.lit(False)).unionByName(nxt)

        depth = 0

        def converged(st: DataFrame) -> bool:
            nonlocal depth
            if st.where(F.col("_new")).count() == 0:
                return True
            depth += 1
            return False

        layers = _supersteps(
            seed_ids.select(
                F.col("a").alias("s"),
                F.col("a").alias("id"),
                F.lit(1).cast("long").alias("sig"),
                F.lit(0).alias("dist"),
                F.lit(True).alias("_new"),
            ).localCheckpoint(eager=True),
            forward,
            max_depth,
            "betweenness_landmarks",
            checkpoint_every=1,
            converged=converged,
        )

        def layer(d: int) -> DataFrame:
            return layers.where(F.col("dist") == d)

        # backward dependency sweep over the BFS DAG, deepest layer first
        delta_parts: list[DataFrame] = []
        edge_parts: list[DataFrame] = []
        delta_cur = layer(depth).select("s", "id", F.lit(0.0).alias("delta"))
        for d in range(depth, 0, -1):
            pe = (
                sym_a.join(
                    bc(
                        layer(d - 1).select(
                            "s",
                            F.col("id").alias("a"),
                            F.col("sig").alias("_sv"),
                        )
                    ),
                    "a",
                )
                .select(
                    "s", F.col("a").alias("v"), "_sv",
                    F.col("b").alias("id"),
                )
                .join(
                    bc(layer(d).select("s", "id", F.col("sig").alias("_sw"))),
                    ["s", "id"],
                    "inner",
                )
                .join(
                    bc(
                        delta_cur.select(
                            "s", "id", F.col("delta").alias("_dw")
                        )
                    ),
                    ["s", "id"],
                    "left",
                )
            )
            contrib = pe.select(
                "s",
                "v",
                F.col("id").alias("w"),
                (
                    (F.col("_sv").cast("double") / F.col("_sw"))
                    * (1.0 + F.coalesce("_dw", F.lit(0.0)))
                ).alias("_c"),
            )
            if level == "edge":
                contrib = contrib.localCheckpoint(eager=True)
                edge_parts.append(contrib)
            delta_prev = (
                contrib.select("s", F.col("v").alias("id"), "_c")
                .groupBy("s", "id")
                .agg(F.sum("_c").alias("delta"))
                .localCheckpoint(eager=True)
            )
            delta_parts.append(delta_prev)
            delta_cur = delta_prev
        if level == "edge":
            if not edge_parts:
                return layers.limit(0).select(
                    F.col("id").alias("a"),
                    F.col("id").alias("b"),
                    F.lit(0.0).alias("edge_betweenness"),
                )
            all_e = edge_parts[0]
            for p in edge_parts[1:]:
                all_e = all_e.unionByName(p)
            return (
                all_e.groupBy(
                    F.least("v", "w").alias("a"),
                    F.greatest("v", "w").alias("b"),
                )
                .agg(F.sum("_c").alias("edge_betweenness"))
                .localCheckpoint(eager=True)
            )
        if not delta_parts:
            return layers.select("id").limit(0).select(
                "id", F.lit(0.0).alias("betweenness")
            )
        all_d = delta_parts[0]
        for p in delta_parts[1:]:
            all_d = all_d.unionByName(p)
        return (
            all_d.where(F.col("id") != F.col("s"))
            .groupBy("id")
            .agg(F.sum("delta").alias("betweenness"))
            .localCheckpoint(eager=True)
        )
    finally:
        sym_a.unpersist()
        sym_b.unpersist()


def greedy_coloring(
    pairs: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 10,
    salt: str = "color",
) -> DataFrame:
    """Deterministic parallel greedy graph coloring — Jones-Plassmann
    with DEGREE-MAJOR priorities (Welsh-Powell order): per round, every
    uncolored vertex whose (degree DESC, md5 hash, id) key is strictly
    smaller than every UNCOLORED neighbor's key takes the smallest color
    absent from its already-colored neighborhood, and the loop runs to
    fixpoint. Degree-major priority is the round-count lever: hash-only
    JP needs ~log2(n) rounds on a star (the hub loses to half its leaves
    every round), while hub-first collapses a star in two — rounds track
    the graph's degree-level depth, not its size. The round-salted md5
    tiebreak replaces the RNG so any partitioning, engine, or re-run
    colors identically, and an unrolled SQL oracle can reproduce every
    assignment.

    The state is (id, _deg, color), a null color marking an uncolored
    vertex, over the symmetrized edges hash-partitioned and persisted
    once. Per round: one semi-join and one join restrict edges to
    uncolored endpoints, one neighbor-min aggregation picks winners,
    and the mex (smallest absent color) is an anti-join of a bounded
    candidate explode (colors after round r never exceed r+1, so
    ``sequence(1, r+2)`` always contains the mex) against colored-
    neighbor colors — all joins keyed by vertex id. A round reads its
    state several times, so every round is checkpointed; the
    uncolored count is the convergence check. Raises on overrun
    instead of returning a partial coloring.

    Returns (id, color) with colors ≥ 1; a proper coloring of the input
    graph (pytest-pinned: no edge joins two equal colors).
    """
    from akka_graph_db_spark.functions.hashing import md5_63

    sym = _persisted_sym(pairs)
    verts = (
        vertices.select("id")
        if vertices is not None
        else sym.select(F.col("a").alias("id")).distinct()
    )
    deg = sym.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).alias("_deg")
    )

    def _key(idc, degc, r: int):
        # (degree DESC, hash, id) as one fixed-width string:
        # lexicographic == numeric on all three fields; plain MIN
        # reproduces it in any SQL engine
        return F.format_string(
            "%013d:%019d:%019d",
            F.lit(1_000_000_000_000) - degc,
            md5_63(
                F.concat_ws(":", idc.cast("string"), F.lit(str(r)), F.lit(salt))
            ),
            idc,
        )

    r, n_left = -1, None

    def step(state: DataFrame) -> DataFrame:
        nonlocal r
        r += 1
        unc = state.where(F.col("color").isNull())
        nkey = (
            sym.join(unc.select(F.col("id").alias("a")), "a", "left_semi")
            .join(
                unc.select(F.col("id").alias("b"), F.col("_deg").alias("_bd")),
                "b",
            )
            .select(
                F.col("a").alias("id"),
                _key(F.col("b"), F.col("_bd"), r).alias("_nk"),
            )
        )
        nmin = nkey.groupBy("id").agg(F.min("_nk").alias("_nmin"))
        winners = (
            unc.join(nmin, "id", "left")
            .where(
                F.col("_nmin").isNull()
                | (_key(F.col("id"), F.col("_deg"), r) < F.col("_nmin"))
            )
            .select("id")
        )
        used = (
            sym.join(winners.select(F.col("id").alias("a")), "a", "left_semi")
            .join(
                state.where(F.col("color").isNotNull())
                .select(F.col("id").alias("b"), "color"),
                "b",
            )
            .select(F.col("a").alias("id"), "color")
            .distinct()
        )
        mex = (
            winners.select(
                "id", F.explode(F.sequence(F.lit(1), F.lit(r + 2))).alias("_c")
            )
            .join(
                used.withColumnRenamed("color", "_c"), ["id", "_c"], "left_anti"
            )
            .groupBy("id")
            .agg(F.min("_c").alias("_c"))
        )
        return state.join(mex, "id", "left").select(
            "id", "_deg", F.coalesce("color", "_c").alias("color")
        )

    def converged(state: DataFrame) -> bool:
        nonlocal n_left
        n_left = state.where(F.col("color").isNull()).count()
        return n_left == 0

    try:
        colors = _supersteps(
            verts.join(deg, "id", "left").select(
                "id",
                F.coalesce("_deg", F.lit(0)).alias("_deg"),
                F.lit(None).cast("int").alias("color"),
            ),
            step,
            max_rounds,
            "greedy_coloring",
            1,
            converged,
        )
    finally:
        sym.unpersist()
    if n_left:
        raise RuntimeError(
            f"greedy_coloring: {n_left} vertices uncolored after "
            f"{max_rounds} rounds; raise max_rounds"
        )
    return colors.select("id", "color")


def node_four_clique_counts(edge_pairs: DataFrame) -> DataFrame:
    """Per-node 4-clique participation counts (id, n_cliques4) — one
    rung up the clique ladder from :func:`node_triangle_counts`
    (community cores, spam-ring detection: a node in many K4s sits in a
    densely interlocked group that triangles alone can't certify).
    Only nodes in ≥1 K4 appear; join against a node frame and coalesce
    for the dense report.

    Algorithm: every K4 {a,b,c,d} surfaces exactly once as an oriented
    triangle (x,y,z) from :func:`_oriented_triangles` (rank x<y<z under
    the (degree, id) orientation) extended by one oriented edge z→d and
    closed by membership checks x→d ∧ y→d. Candidate volume is
    Σ_tri outdeg+(z) with outdeg+ ≤ O(√m) by degree orientation — the
    K4 analogue of the O(m^1.5) wedge bound, supernode-skew-proof. The
    closing checks are two left-semi equi-joins against the oriented
    edge frame (never per-row lookups); per-node counts are one
    explode + map-side-combinable count. At 100 TB: three shuffle
    joins keyed on node/pair ids, no array blowup beyond the O(√m)
    adjacency rows the triangle stage already carries. K4 populations
    grow combinatorially with density — feed this a thresholded graph
    (e.g. min-support co-occurrence edges), the same discipline every
    clique miner applies before enumeration.
    """
    e = canonical_undirected(edge_pairs).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        o = _degree_oriented(e)
        tri = _oriented_triangles(o)
        cand = tri.join(
            o.select(F.col("src").alias("z"), F.col("dst").alias("d")),
            "z",
        )
        quad = cand.join(
            o.select(F.col("src").alias("x"), F.col("dst").alias("d")),
            ["x", "d"],
            "left_semi",
        ).join(
            o.select(F.col("src").alias("y"), F.col("dst").alias("d")),
            ["y", "d"],
            "left_semi",
        )
        per_node = (
            quad.select(F.col("x").alias("id"))
            .unionByName(quad.select(F.col("y").alias("id")))
            .unionByName(quad.select(F.col("z").alias("id")))
            .unionByName(quad.select(F.col("d").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_cliques4"))
        )
        return per_node.localCheckpoint(eager=True)
    finally:
        e.unpersist()


def clique_ladder_profile(edge_pairs: DataFrame, top: int = 20) -> DataFrame:
    """Top ``top`` nodes by triangle membership, annotated with their
    4-clique membership — the two-rung clique-ladder density profile
    (id, n_triangles, n_cliques4), ordered by (n_triangles DESC, id).
    One pass builds both: the K4 stage reuses the triangle stage's
    oriented frame shape, and the combine is a broadcast-size left join
    (top-k frames only)."""
    tri = node_triangle_counts(edge_pairs)
    quad = node_four_clique_counts(edge_pairs)
    return (
        tri.join(quad, "id", "left")
        .select(
            "id",
            "n_triangles",
            F.coalesce(F.col("n_cliques4"), F.lit(0))
            .cast("bigint")
            .alias("n_cliques4"),
        )
        .orderBy(F.col("n_triangles").desc(), "id")
        .limit(top)
    )


def negative_edge_samples(
    edge_pairs: DataFrame, buckets: "int | str" = 16, k: int = 2
) -> DataFrame:
    """Deterministic negative sampling for link-prediction training:
    for each node, up to ``k`` same-bucket partners that are NOT edges,
    drawn by md5 rank — the labeled-negatives half of a training set
    whose positives are the edge list itself. Returns (a, b, rk) with
    a < b and rk ∈ [1, k] per a.

    Never all-pairs: nodes hash into ``buckets`` md5 buckets and
    candidates pair only WITHIN a bucket, so candidate volume is
    Σ_B |B|² ≈ n²/buckets — pick buckets ∝ n and the per-bucket work
    is constant-bounded, the same bucket-bounds-the-quadratic argument
    as every LSH band join here. Pass ``buckets="auto"`` for exactly
    that: max(16, n_nodes div 100) from a 1-row count, which keeps
    candidate volume LINEAR (~100·n) at any scale — the hardcoded 16
    measured 41.5s at sf0.1 (20k nodes ⇒ 1250-node buckets, 25M
    candidate pairs) vs ~100-node buckets on the auto path; a SQL
    oracle reproduces the bucket count as GREATEST(16, COUNT(*)//100).
    The per-a rank window sees at most one bucket's nodes (bounded);
    the anti-join against the canonical edge list is one shuffled
    equi-join. Hash draws are md5 (cross-engine), so the sample is
    reproducible on any partitioning and by the SQL oracle.
    """
    from akka_graph_db_spark.functions.hashing import md5_63
    from pyspark.sql.window import Window

    e = canonical_undirected(edge_pairs)
    # the node frame feeds BOTH sides of the bucket self-join (and the
    # auto-bucket count) — checkpoint the tiny (n_nodes-row) frame once
    # or every consumer re-derives the full edge lineage (41.5s with
    # hardcoded buckets → 24.2s auto-bucketed → 5.2s checkpointed at sf0.1 on the co-order graph, whose distinct
    # alone is a 28M-row join)
    ids = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if buckets == "auto":
        buckets = max(16, ids.count() // 100)
    nodes = ids.withColumn(
        "bucket", md5_63(F.col("id").cast("string")) % buckets
    )
    cand = (
        nodes.select("bucket", F.col("id").alias("a"))
        .join(nodes.select("bucket", F.col("id").alias("b")), "bucket")
        .where(F.col("a") < F.col("b"))
        .join(e, ["a", "b"], "left_anti")
    )
    w = Window.partitionBy("a").orderBy(
        md5_63(
            F.concat_ws(":", F.col("a").cast("string"),
                        F.col("b").cast("string"))
        ),
        "b",
    )
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
        .select("a", "b", "rk")
    )


def hash_projection_embeddings(
    edge_pairs: DataFrame, dims: int = 4, rounds: int = 2
) -> DataFrame:
    """Integer FastRP-style node embeddings: seed each (node, dim) with
    a ±1 drawn from md5 parity, then ``rounds`` propagation steps where
    h_{r+1}(v) = Σ_{u ∈ N(v)} h_r(u) (undirected neighborhood sum).
    Structural-similarity features for downstream ML (FastRP, Chen et
    al. 2019, with the Gaussian projection replaced by a signed hash so
    every value stays an exact BIGINT). Returns one row per (id, dim):
    (id, dim, h1, h2) for the default two rounds.

    Long format (node, dim) rather than per-node arrays keeps each
    propagation a plain join + groupBy SUM keyed on (node, dim) — the
    identical superstep shuffle shape as PageRank, map-side combinable,
    dims a constant fan-out on the edge frame. No floats anywhere, so
    the result is partition-order-independent and SQL-reproducible.
    """
    und = canonical_undirected(edge_pairs)
    adj = und.select("a", "b").unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    dims_df = adj.sparkSession.range(dims).select(
        F.col("id").cast("int").alias("dim")
    )
    nodes = adj.select(F.col("a").alias("id")).distinct()
    parity = F.substring(
        F.md5(
            F.concat_ws(
                ":", F.col("id").cast("string"), F.col("dim").cast("string")
            )
        ),
        1,
        1,
    ).isin("0", "2", "4", "6", "8", "a", "c", "e")
    state = nodes.crossJoin(F.broadcast(dims_df)).select(
        "id",
        "dim",
        F.when(parity, F.lit(1)).otherwise(F.lit(-1))
        .cast("bigint")
        .alias("h"),
    )
    outs = []
    for _ in range(rounds):
        state = (
            adj.join(state.withColumnRenamed("id", "b"), "b")
            .groupBy(F.col("a").alias("id"), "dim")
            .agg(F.sum("h").alias("h"))
            .localCheckpoint(eager=True)
        )
        outs.append(state)
    out = outs[0].select("id", "dim", F.col("h").alias("h1"))
    for i, s in enumerate(outs[1:], start=2):
        out = out.join(
            s.select("id", "dim", F.col("h").alias(f"h{i}")),
            ["id", "dim"],
        )
    return out


def link_prediction_resource_allocation(
    pairs: DataFrame,
    top_k: int = 50,
    min_common: int = 2,
    max_degree: "int | str | None" = None,
) -> DataFrame:
    """Resource-Allocation-index link prediction (Zhou, Lü & Zhang 2009)
    over an undirected (a, b) pair frame: for every NON-adjacent pair
    with >= ``min_common`` common neighbors, RA(a,b) = Σ_{z ∈ N(a)∩N(b)}
    1/deg(z) — common neighbors weighted INVERSELY by their degree, so a
    shared hub contributes almost nothing (the Adamic-Adar intuition,
    with 1/deg in place of 1/log deg). Returns the ``top_k`` candidates
    (a, b, ra_ppm, common) by (ra_ppm desc, common desc, a, b).

    The per-center weight is computed as the EXACT integer quotient
    ``1000000 div deg(z)`` (parts-per-million) and summed as BIGINT —
    no floats anywhere in the score, so the ranking is
    partition-order-independent and a SQL oracle reproduces it
    bit-for-bit (1/log deg would be transcendental; 1/deg in fixed
    point is the exactly-verifiable member of the family).

    Runs on the same common-neighbour substrate as
    :func:`link_prediction_jaccard` (:func:`_common_neighbour_top_k`):
    at most ``_WEDGE_BROADCAST_MAX_EDGES`` symmetric edges, the
    broadcast-CSR scorer sums each pair's centre weights inside
    ``mapInArrow`` with no shuffle; past the gate, one wedge self-join
    sums them per packed pair key. ``max_degree`` (or ``"auto"`` for
    the histogram-derived p99.9 cap, see :func:`_auto_max_degree`)
    bounds the wedge volume on skewed graphs. Under a cap, dropped hub
    centers are exactly the terms RA already discounts to ~0 — the cap
    and the score agree about which evidence matters, which is why RA
    caps far more gracefully than raw common-neighbor counts.
    """
    return _common_neighbour_top_k(
        pairs, "ra_ppm", ("a", "b", "ra_ppm", "common"), top_k,
        min_common, max_degree,
    )


def degree_anomalies(pairs: DataFrame, top: int = 20) -> DataFrame:
    """Degree-outlier report via the exact median/MAD robust z-score:
    nodes whose undirected degree deviates from the graph's median
    degree by more than 3x the median absolute deviation (both LOWER
    medians by integer rank — no float quantile semantics), ranked by
    (deviation desc, id), top ``top``. The classic robust alternative
    to mean/stddev outlier flags (a single hub can't drag the center).

    Scale shape: both medians come off the DEGREE HISTOGRAM — one row
    per distinct degree value, O(10^3..10^4) even on billion-node
    graphs — so the only ordered windows in the plan run over that tiny
    aggregate (the vocab_growth bucket-cumsum discipline; no
    corpus-sized global window exists). The median/MAD scalars then
    fold back IN-PLAN via crossJoin(broadcast(1-row frame)); the final
    orderBy+limit compiles to TakeOrdered.
    """
    from pyspark.sql.window import Window

    e = canonical_undirected(pairs)
    # deg feeds the histogram AND the final outlier filter; hist feeds
    # median, dev-histogram and MAD. The branches re-expand in the
    # PRINTED plan (PLANS.md counts 56 nominal scans) but at runtime
    # AQE's ReusedExchange computes each shared aggregate once —
    # eagerly checkpointing deg/hist here was MEASURED SLOWER (8.7s vs
    # 3.6s at sf0.1: the checkpoint breaks the reuse pipeline and
    # serializes blocks for frames the exchanges already dedupe).
    deg = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    hist = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n"))
    wcum = Window.orderBy("deg").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = hist.agg(F.sum("n").alias("_tot"))
    # lower median: smallest deg whose cumulative count reaches
    # ceil(n_total / 2) = (n_total + 1) div 2 — pure integer rank.
    med = (
        hist.select("deg", F.sum("n").over(wcum).alias("_cum"))
        .crossJoin(F.broadcast(tot))
        .where(F.col("_cum") >= F.expr("(_tot + 1) div 2"))
        .agg(F.min("deg").alias("median_deg"))
    )
    dev_hist = (
        hist.crossJoin(F.broadcast(med))
        .groupBy(
            F.abs(F.col("deg") - F.col("median_deg")).alias("dev")
        )
        .agg(F.sum("n").alias("n"))
    )
    mad = (
        dev_hist.select(
            "dev",
            F.sum("n").over(
                Window.orderBy("dev").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ).alias("_cum"),
        )
        .crossJoin(F.broadcast(tot))
        .where(F.col("_cum") >= F.expr("(_tot + 1) div 2"))
        .agg(F.min("dev").alias("mad"))
    )
    scalars = med.crossJoin(mad)
    return (
        deg.crossJoin(F.broadcast(scalars))
        .withColumn(
            "deviation", F.abs(F.col("deg") - F.col("median_deg"))
        )
        .where(F.col("deviation") > F.lit(3) * F.col("mad"))
        .orderBy(F.col("deviation").desc(), "id")
        .limit(top)
        .select("id", "deg", "median_deg", "mad", "deviation")
    )


def wl_color_histogram(
    pairs: DataFrame, rounds: int = 2, top: int = 20
) -> DataFrame:
    """1-dimensional Weisfeiler-Lehman color refinement (the classic
    graph-isomorphism / GNN-expressiveness primitive): every node
    starts colored by its degree; each round recolors a node with
    md5(own_color | sorted multiset of neighbor colors). Returns the
    final color histogram — top ``top`` (wl_color, n_nodes) by
    (n_nodes desc, wl_color) — the structural-role fingerprint of the
    graph (two nodes share a color iff WL cannot distinguish their
    ``rounds``-hop neighborhoods).

    Determinism: the neighbor multiset is canonicalized by SORTING the
    collected colors (collect_list order is partition-dependent;
    sort_array makes the md5 input a pure function of the multiset),
    and md5 is cross-engine, so every color is partition-order-
    independent and a SQL oracle (string_agg ORDER BY) reproduces the
    histogram bit-for-bit.

    Scale shape: each round is exactly one PageRank-superstep shuffle —
    an edge join against the (id, color) state plus a groupBy collect.
    A round reads its state twice (the join and the recolor), so every
    round is checkpointed. The adjacency is an eager localCheckpoint,
    not a persisted frame: once cached, its measured size (under the
    broadcast threshold at sf0.1) made the planner broadcast the 2.39 M
    adjacency rows every round instead of the per-vertex colors.
    Neighbor color lists are degree-sized strings; for degree-skewed
    graphs cap or hash-fold the hub lists the same way the wedge ops
    cap centers (hubs are already uniquely colored by round 1).
    """
    und = canonical_undirected(pairs)
    adj = (
        und.select("a", "b")
        .unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .localCheckpoint(eager=True)
    )

    def step(colors: DataFrame) -> DataFrame:
        nbr = adj.join(
            colors.select(F.col("id").alias("b"), F.col("color").alias("_nc")),
            "b",
        ).select(F.col("a").alias("id"), "_nc")
        folded = nbr.groupBy("id").agg(
            F.concat_ws(",", F.sort_array(F.collect_list("_nc"))).alias("_ns")
        )
        return colors.join(folded, "id").select(
            "id",
            F.md5(F.concat_ws("|", F.col("color"), F.col("_ns"))).alias("color"),
        )

    colors = _supersteps(
        adj.groupBy(F.col("a").alias("id"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .select("id", F.col("deg").cast("string").alias("color")),
        step,
        rounds,
        "wl_color_histogram",
        checkpoint_every=1,
    )
    return (
        colors.groupBy(F.col("color").alias("wl_color"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy(F.col("n_nodes").desc(), "wl_color")
        .limit(top)
    )


def dag_layers(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Longest-path (topological) layering of a DAG: layer(v) = 0 for
    sources, else 1 + max(layer(u)) over in-neighbors — the critical-
    path depth assignment behind dependency scheduling and DAG
    visualization. Returns per-(label, layer) counts:
    (label, layer, n_nodes) ordered by (label, layer).

    Cycle detection comes free: the relaxation is monotone and
    converges within the DAG depth, so failing to reach a fixpoint in
    ``max_iter`` rounds means a cycle — raises rather than silently
    returning a partial layering (the coreness r6 lesson: never return
    non-converged state).

    Scale shape: each round is one edge join + groupBy MAX (map-side
    combinable — the PageRank superstep shuffle) left-joined onto the
    constant node ids, so a round reads its (id, layer) state once and
    runs at the driver's default cadence; convergence is a monotone-sum
    1-row aggregate (no join). Depth, not |V|, bounds the round count —
    typically O(10) even on huge graphs.
    """
    ids = nodes.select("id").persist(StorageLevel.MEMORY_AND_DISK)
    e = edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    sums = [0]

    def step(layer: DataFrame) -> DataFrame:
        recv = (
            e.join(
                layer.select(
                    F.col("id").alias("src"), F.col("layer").alias("_lu")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg((F.max("_lu") + 1).alias("_recv"))
        )
        return ids.join(recv, "id", "left").select(
            "id", F.coalesce("_recv", F.lit(0)).cast("bigint").alias("layer")
        )

    def converged(layer: DataFrame) -> bool:
        sums.append(layer.agg(F.sum("layer")).first()[0] or 0)
        return sums[-1] == sums[-2]

    try:
        layer = _supersteps(
            ids.select("id", F.lit(0).cast("bigint").alias("layer")),
            step,
            max_iter,
            "dag_layers",
            converged=converged,
        )
    finally:
        ids.unpersist()
        e.unpersist()
    if len(sums) == 1 or sums[-1] != sums[-2]:
        raise ValueError(
            f"dag_layers did not converge in {max_iter} rounds — "
            "the edge frame contains a cycle (longest-path layering "
            "is undefined on cyclic graphs)"
        )
    return (
        nodes.select("id", "label")
        .join(layer, "id")
        .groupBy("label", "layer")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("label", "layer")
    )


def edge_embeddedness(
    pairs: DataFrame, top_k: int = 20
) -> DataFrame:
    """Edge embeddedness (Granovetter tie strength): for every edge
    (a, b), the number of triangles through it = |N(a) ∩ N(b)|.
    Returns the ``top_k`` strongest ties by (support desc, a, b) as
    tie='strong' rows, plus ONE tie='weak_total' summary row whose
    support column carries the count of zero-embeddedness edges — weak
    ties are the bridge-like edges whose removal fragments
    neighborhoods, the complement signal to the strong-tie ranking.

    Derivation: each triangle from the degree-oriented edge-iterator
    enumeration (:func:`_oriented_triangles`, O(m^1.5) with nothing
    wedge-sized ever shuffled) explodes into its 3 canonical edges, one
    groupBy counts support per edge — the support frame is
    triangle-bounded, NOT wedge-bounded (a raw wedge self-join here
    measured 104s at sf0.1 vs 10.6s on this route: it counts common
    neighbors for every co-wedge pair and only then discards
    non-edges). Zero-support edges come from one anti-join of the
    edge-sized list against that support frame.
    """
    e = canonical_undirected(pairs).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        tri = _oriented_triangles(_degree_oriented(e))
        support = (
            tri.select(
                F.least("x", "y").alias("a"),
                F.greatest("x", "y").alias("b"),
            )
            .unionByName(
                tri.select(
                    F.least("x", "z").alias("a"),
                    F.greatest("x", "z").alias("b"),
                )
            )
            .unionByName(
                tri.select(
                    F.least("y", "z").alias("a"),
                    F.greatest("y", "z").alias("b"),
                )
            )
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        strong = (
            support.orderBy(F.col("support").desc(), "a", "b")
            .limit(top_k)
            .select(
                F.lit("strong").alias("tie"),
                "a",
                "b",
                F.col("support").cast("bigint").alias("support"),
            )
        )
        # weak-ties summary: ONE row whose support carries the count
        # of zero-embeddedness edges (tie='weak_total' labels it)
        weak = (
            e.join(support.select("a", "b"), ["a", "b"], "left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_weak"))
            .select(
                F.lit("weak_total").alias("tie"),
                F.lit(-1).cast("bigint").alias("a"),
                F.lit(-1).cast("bigint").alias("b"),
                F.col("n_weak").alias("support"),
            )
        )
        return strong.unionByName(weak)
    finally:
        e.unpersist()


def seeded_label_propagation(
    pairs: DataFrame, seeds: DataFrame, rounds: int = 3
) -> DataFrame:
    """Semi-supervised node classification by seeded label propagation:
    ``seeds`` (id, label) are CLAMPED ground truth; every round each
    node takes the majority label among its labeled neighbors
    (integer vote counts, ties to the lexicographically smallest
    label), keeping its previous label when no neighbor is labeled.
    Returns (id, label, is_seed) for every node labeled after
    ``rounds`` synchronous rounds — the classic Zhu/Ghahramani scheme
    with hard clamping, the cheap baseline behind every
    "propagate the labels you have" curation task.

    Unlike :func:`label_propagation` (community detection — every node
    starts labeled with itself), the label alphabet here is the seed
    set's, votes are exact integers, and seeds never move, so the
    whole evolution is deterministic and a SQL oracle unrolls it
    round by round.

    Scale shape: per round, one edge-join against the labeled state +
    one (node, label) vote count (map-side combinable) + one per-node
    argmax window whose partition is at most the node's distinct
    neighbor-label set (bounded by the seed alphabet, never the
    corpus); every round is checkpointed (:func:`_supersteps` with
    ``checkpoint_every=1``), which keeps the plan linear.
    """
    from pyspark.sql.window import Window

    und = canonical_undirected(pairs)
    adj = und.select("a", "b").unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    nodes = adj.select(F.col("a").alias("id")).distinct()
    sd = seeds.select(
        F.col("id"), F.col("label").alias("_seed")
    )
    state = (
        nodes.join(sd, "id", "left")
        .select("id", F.col("_seed").alias("label"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("id").orderBy(
        F.col("_c").desc(), "label"
    )

    def step(state: DataFrame) -> DataFrame:
        msgs = adj.join(
            state.where(F.col("label").isNotNull()).select(
                F.col("id").alias("a"), "label"
            ),
            "a",
        ).select(F.col("b").alias("id"), "label")
        winners = (
            msgs.groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("_c"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("id", F.col("label").alias("_win"))
        )
        return (
            nodes.join(sd, "id", "left")
            .join(
                state.select("id", F.col("label").alias("_prev")),
                "id",
                "left",
            )
            .join(winners, "id", "left")
            .select(
                "id",
                F.coalesce("_seed", "_win", "_prev").alias("label"),
            )
        )

    state = _supersteps(
        state, step, rounds, "seeded_label_propagation", checkpoint_every=1
    )
    return (
        state.where(F.col("label").isNotNull())
        .join(sd, "id", "left")
        .select(
            "id", "label", F.col("_seed").isNotNull().alias("is_seed")
        )
    )


def connected_components_incremental(
    assign: DataFrame, new_edges: DataFrame
) -> DataFrame:
    """O(changes) connected-components maintenance: given a valid
    min-id component ``assign`` (id, component) for an existing edge
    set and a batch of ``new_edges`` (a, b), return the assignment for
    the UNION graph — without touching the old edges. Each new edge
    can only MERGE existing components, so the fixpoint runs on the
    COMPONENT graph (component ids as super-nodes, one contracted edge
    per new edge that crosses components) and the result joins back as
    a component-id remap. Min-id labels compose: the merged label is
    the min over merged components of their min member ids, exactly
    what a full recompute would produce.

    Scale: the iterative part (:func:`connected_components_from_pairs`)
    sees at most min(2·|batch|, #components) super-nodes — a 100 TB
    graph with a million-edge ingest batch runs its CC on a frame the
    size of the BATCH, and the only full-graph work is one broadcast-
    friendly remap join (the mapping has one row per MERGED component,
    bounded by the batch). New nodes must first be appended to
    ``assign`` as singletons (id, id) — the same contract as the
    store's incremental count/degree maintenance.
    """
    ca = assign.select(
        F.col("id").alias("a"), F.col("component").alias("_ca")
    )
    cb = assign.select(
        F.col("id").alias("b"), F.col("component").alias("_cb")
    )
    ce = (
        new_edges.join(ca, "a")
        .join(cb, "b")
        .where(F.col("_ca") != F.col("_cb"))
        .select(F.col("_ca").alias("a"), F.col("_cb").alias("b"))
        .distinct()
    )
    verts = (
        ce.select(F.col("a").alias("id"))
        .unionByName(ce.select(F.col("b").alias("id")))
        .distinct()
    )
    mapping = connected_components_from_pairs(verts, ce).select(
        F.col("id").alias("component"),
        F.col("component").alias("_new"),
    )
    # AQE broadcasts the (batch-bounded) mapping when it fits; a forced
    # broadcast would OOM on pathological mega-batches, the shuffle
    # join is correct past the gate.
    return assign.join(mapping, "component", "left").select(
        "id", F.coalesce("_new", "component").alias("component")
    )


def label_path_census(
    nodes: DataFrame, edges: DataFrame, k: int = 3
) -> DataFrame:
    """Exact count of directed length-``k`` paths between every
    (source label, destination label) pair — the adjacency-matrix
    power A^k aggregated by label, computed WITHOUT ever enumerating a
    path: the state (node, src_label, n_paths BIGINT) is propagated k
    times by one edge join + groupBy SUM per step, so intermediate
    volume is bounded by |V|·|labels|, not by the (combinatorially
    exploding) path count. Returns (src_label, dst_label, n_paths)
    ordered by (src_label, dst_label) — the reachability-volume census
    behind schema discovery and join-fanout estimation.

    Same superstep shuffle shape as PageRank/FastRP; counts are exact
    BIGINTs (map-side combinable, partition-order-independent), so a
    SQL oracle that DOES enumerate the paths (k unrolled joins) must
    agree row for row.
    """
    lab = nodes.select("id", "label")
    state = (
        edges.select("src", "dst")
        .join(
            lab.select(
                F.col("id").alias("src"),
                F.col("label").alias("src_label"),
            ),
            "src",
        )
        .groupBy(F.col("dst").alias("id"), "src_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
    )
    for _ in range(k - 1):
        state = (
            edges.select("src", "dst")
            .join(state.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), "src_label")
            .agg(F.sum("n_paths").alias("n_paths"))
        )
    return (
        state.join(lab, "id")
        .groupBy("src_label", F.col("label").alias("dst_label"))
        .agg(F.sum("n_paths").alias("n_paths"))
        .orderBy("src_label", "dst_label")
    )


def local_clustering(
    pairs: DataFrame, top: int = 20, min_degree: int = 2
) -> DataFrame:
    """Per-node local clustering coefficient: triangles(v) / C(deg(v),
    2) — how close each node's neighborhood is to a clique, the
    node-level refinement of the global coefficient. Returns the
    ``top`` nodes by (lcc desc, id) among nodes with degree >=
    ``min_degree`` as (id, deg, n_triangles, lcc), lcc rounded to 6 dp
    (one IEEE division over exact integer counts).

    Shape: the O(m^1.5) degree-oriented triangle counts
    (:func:`node_triangle_counts`) + a degree aggregation + one join —
    nothing wedge-sized materializes, the same argument as
    triangle_count.
    """
    e = canonical_undirected(pairs).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        deg = (
            e.select(F.col("a").alias("id"))
            .unionByName(e.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= min_degree)
        )
        tri = node_triangle_counts(e)
        return (
            deg.join(tri, "id", "left")
            .select(
                "id",
                F.col("deg").cast("bigint").alias("deg"),
                F.coalesce("n_triangles", F.lit(0))
                .cast("bigint")
                .alias("n_triangles"),
                F.round(
                    F.coalesce("n_triangles", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1) / 2),
                    6,
                ).alias("lcc"),
            )
            .orderBy(F.col("lcc").desc(), "id")
            .limit(top)
        )
    finally:
        e.unpersist()


def maximal_matching(
    pairs: DataFrame, rounds: int = 5
) -> DataFrame:
    """Deterministic distributed maximal matching (greedy, Luby-style
    symmetry breaking on the line graph): each round selects every
    live edge whose md5 key is the minimum among ALL live edges at
    BOTH endpoints (locally-minimal edges are independent, so the
    round's selections never conflict), then removes the matched
    vertices. Runs exactly ``rounds`` synchronous rounds — the
    expected-O(log n) horizon of the randomized analysis, here with
    md5 in place of randomness so the matching is reproducible on any
    partitioning AND by a SQL oracle that unrolls the same rounds.
    Returns the matched edges (a, b, matched_round) ordered by (a, b).

    The state is the canonical edges (a, b, _k, matched_round): a null
    ``matched_round`` is a live edge, and an edge that loses an endpoint
    to a match leaves the state. Shape per round: one groupBy MIN of the
    live keys per vertex, one groupBy count per key (an edge is picked
    iff its key is the minimum of both its endpoints), and three left
    joins of the state against the picked keys and the matched
    vertices — all map-side combinable. A round reads its state
    several times, so every round is checkpointed, and the keyed input
    edges are materialized once for the same reason. The classic
    building block for distributed coarsening/pairing passes.
    """
    edges = canonical_undirected(pairs).select(
        "a",
        "b",
        F.md5(
            F.concat_ws(
                ":", F.col("a").cast("string"), F.col("b").cast("string")
            )
        ).alias("_k"),
        F.lit(None).cast("int").alias("matched_round"),
    ).localCheckpoint(eager=True)
    rnd = 0

    def step(state: DataFrame) -> DataFrame:
        nonlocal rnd
        rnd += 1
        live = state.where(F.col("matched_round").isNull())
        # per-VERTEX minimum over the SYMMETRIZED incidence: a vertex
        # appearing as `a` in one edge and `b` in another takes one
        # minimum over both (grouping the canonical frame's sides
        # separately let a vertex match twice)
        vmin = (
            live.select(F.col("a").alias("_v"), "_k")
            .unionByName(live.select(F.col("b").alias("_v"), "_k"))
            .groupBy("_v")
            .agg(F.min("_k").alias("_k"))
        )
        # an edge is picked iff it is the minimum at BOTH endpoints,
        # i.e. its key is the minimum of exactly two vertices
        picked = (
            vmin.groupBy("_k")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") == 2)
            .select("_k", F.lit(rnd).alias("_r"))
        )
        gone = vmin.join(picked, "_k", "left_semi")
        # a live edge that loses an endpoint to a match leaves the state
        return (
            state.join(picked, "_k", "left")
            .join(
                gone.select(F.col("_v").alias("a"), F.lit(1).alias("_ga")),
                "a",
                "left",
            )
            .join(
                gone.select(F.col("_v").alias("b"), F.lit(1).alias("_gb")),
                "b",
                "left",
            )
            .where(
                F.col("matched_round").isNotNull()
                | F.col("_r").isNotNull()
                | (F.col("_ga").isNull() & F.col("_gb").isNull())
            )
            .select(
                "a",
                "b",
                "_k",
                F.coalesce("matched_round", "_r").alias("matched_round"),
            )
        )

    return (
        _supersteps(edges, step, rounds, "maximal_matching", 1)
        .where(F.col("matched_round").isNotNull())
        .select("a", "b", "matched_round")
        .orderBy("a", "b")
    )


def katz_centrality(
    pairs: DataFrame, max_len: int = 3, beta_permille: int = 1
) -> DataFrame:
    """Truncated Katz centrality with EXACT integer arithmetic:
    katz(v) = Σ_{l=1..max_len} β^l · walks_l(v), where walks_l(v) is
    the number of length-l walks ending at v (the standard Katz series
    truncated at max_len; β = beta_permille/1000 keeps longer walks
    subordinate). Because β is a power of 10^-3, the whole score is an
    exact BIGINT at nano precision: katz_nano = Σ walks_l ·
    1000^(max_len-l) — no float accumulation anywhere, so the ranking
    is bit-reproducible on any engine or partitioning.

    Returns (id, walks_1..walks_{max_len}, katz_nano).

    Scale shape: the walk counts are max_len rounds of message passing
    x_l = A·x_{l-1} over the symmetrized edge frame — each round one
    equi-join (state side is one row per vertex, broadcastable below
    the usual gate) + one groupBy on the destination. The edge frame is
    persisted once and reused; the state carries walks_1..walks_l as
    columns, one checkpointed round of :func:`_supersteps` each, so the
    result needs no join. No transitive materialization, counts
    only (never path enumeration) — A³ by value, not by listing, the
    same discipline as label_path_census.
    """
    if max_len < 1 or max_len > 5:
        raise ValueError("max_len must be in 1..5 (BIGINT headroom)")
    e = canonical_undirected(pairs)
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = sym.select(F.col("a").alias("id")).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        # per-vertex state: broadcast only under the CC gate (same rule
        # as connected_components_from_pairs) — a billion-vertex graph
        # falls back to the shuffled equi-join.
        small = nodes.count() <= _CC_BROADCAST_MAX_VERTICES

        def step(state: DataFrame) -> DataFrame:
            # state is (id, walks_0..walks_{l-1}); add walks_l
            st = state.select(
                F.col("id").alias("a"), F.col(state.columns[-1]).alias("_x")
            )
            msgs = (
                sym.join(F.broadcast(st) if small else st, "a")
                .groupBy(F.col("b").alias("id"))
                .agg(F.sum("_x").alias("_x"))
            )
            # isolated-in-round vertices get 0 walks, not a dropped row
            return state.join(msgs, "id", "left").select(
                *state.columns,
                F.coalesce("_x", F.lit(0)).alias(
                    f"walks_{len(state.columns) - 1}"
                ),
            )

        # every round is checkpointed: each state is |V| rows and must
        # be materialized before sym.unpersist() below, or the result
        # would re-derive the symmetric edge frame uncached
        walks = _supersteps(
            nodes.select("id", F.lit(1).cast("bigint").alias("walks_0")),
            step,
            max_len,
            "katz_centrality",
            checkpoint_every=1,
        )
    finally:
        sym.unpersist()
        nodes.unpersist()
    # β = beta_permille/1000: katz·1000^max_len is the exact integer
    # Σ walks_l · beta_permille^l · 1000^(max_len-l)
    nano = sum(
        F.col(f"walks_{l}") * F.lit(beta_permille**l * 1000 ** (max_len - l))
        for l in range(1, max_len + 1)
    )
    return walks.select(
        "id",
        *[f"walks_{l}" for l in range(1, max_len + 1)],
        nano.cast("bigint").alias("katz_nano"),
    )


def category_mixing(
    pairs: DataFrame, categories: DataFrame
) -> DataFrame:
    """Categorical mixing matrix (the assortative-mixing primitive for
    labeled graphs): distinct undirected edges bucketed by their
    endpoints' category pair — (cat_lo, cat_hi, n_edges,
    same_category) with the pair canonicalized so (X,Y) and (Y,X)
    land in one row. ``categories`` is (id, category). Exact integer
    counts; the Newman mixing matrix e_ij (and hence categorical
    assortativity) is this table divided by 2m.

    Scale shape: two broadcast-able joins of the (small) category
    frame onto the canonical edge list + one groupBy on the 2-column
    category key — no self-join of edges, no window.
    """
    e = canonical_undirected(pairs)
    ca = categories.select(
        F.col("id").alias("a"), F.col("category").alias("_ca")
    )
    cb = categories.select(
        F.col("id").alias("b"), F.col("category").alias("_cb")
    )
    return (
        e.join(ca, "a")
        .join(cb, "b")
        .select(
            F.least("_ca", "_cb").alias("cat_lo"),
            F.greatest("_ca", "_cb").alias("cat_hi"),
        )
        .groupBy("cat_lo", "cat_hi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
        .select(
            "*", (F.col("cat_lo") == F.col("cat_hi")).alias(
                "same_category"
            )
        )
    )


def scc_condensation(edges: DataFrame) -> DataFrame:
    """Condensation DAG of a directed graph: contract each strongly
    connected component (via :func:`strongly_connected_components`) to
    one super-node and count the original edges between DISTINCT
    components — (scc_a, scc_b, n_edges). The result is acyclic by
    construction; on the event-type transition graph it is the
    behavior-state flow diagram (which mutually-reachable state
    clusters feed which).

    Scale shape: the SCC labeling is the path-doubling closure (cost
    documented there — bounded-cardinality digraphs like type graphs);
    the condensation itself is two joins of the (vertex→scc) map onto
    the edge list + one groupBy. The scc map is one row per vertex —
    broadcast-able for the type-graph use case. Edges checkpoint once
    (SCC + both condensation joins would otherwise re-run a derived
    edge frame's join chain).
    """
    edges = edges.localCheckpoint(eager=True)
    scc = strongly_connected_components(edges).select("id", "scc")
    sa = scc.select(F.col("id").alias("a"), F.col("scc").alias("scc_a"))
    sb = scc.select(F.col("id").alias("b"), F.col("scc").alias("scc_b"))
    return (
        edges.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .where(F.col("scc_a") != F.col("scc_b"))
        .groupBy("scc_a", "scc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )


def bowtie_classes(edges: DataFrame) -> DataFrame:
    """Bow-tie decomposition of a directed graph (Broder et al. 2000,
    "Graph structure in the Web"): pick the largest SCC as the CORE
    (ties broken by smallest component id), classify every vertex as
    CORE / IN (reaches the core, not in it) / OUT (reached from the
    core, not in it) / OTHER (tendrils, tubes, disconnected) — returns
    (id, scc, bowtie_class). The macro-structure report for flow
    graphs: which nations only feed the trading bloc, which only
    consume from it.

    Scale contract: inherits :func:`transitive_closure`'s bounded-
    cardinality contract (derived/category graphs). All classification
    joins are equi-keyed semi-joins against the (tiny) core member set;
    the 1-row core choice is an aggregation, never a collect. The
    edge frame is checkpointed once and ONE closure feeds both the SCC
    labeling and the IN/OUT reachability (a derived-edge frame like
    the trade corridors would otherwise re-run its join chain per
    consumer — measured 128 parquet scans in the un-shared plan).
    """
    edges = edges.localCheckpoint(eager=True)
    closure = transitive_closure(edges)
    scc = strongly_connected_components(
        edges, closure=closure
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # largest SCC, min-id tiebreak, as a 1-row frame (argmax via the
    # max-struct trick; negated id so bigger size then smaller id wins)
    core_row = scc.groupBy("scc").agg(
        F.max("scc_size").alias("_sz")
    ).agg(
        F.max(F.struct(F.col("_sz"), (-F.col("scc")).alias("_nid")))
        .alias("_b")
    ).select((-F.col("_b._nid")).alias("_core_scc"))
    core_members = scc.join(
        F.broadcast(core_row),
        scc["scc"] == core_row["_core_scc"],
        "left_semi",
    ).select("id")
    reaches_core = (
        closure.join(
            core_members.select(F.col("id").alias("b")), "b",
            "left_semi",
        )
        .select(F.col("a").alias("id"))
        .distinct()
    )
    reached_from_core = (
        closure.join(
            core_members.select(F.col("id").alias("a")), "a",
            "left_semi",
        )
        .select(F.col("b").alias("id"))
        .distinct()
    )
    flags = (
        scc.select("id", "scc")
        .join(
            core_members.select("id", F.lit(True).alias("_core")),
            "id", "left",
        )
        .join(
            reaches_core.select("id", F.lit(True).alias("_in")),
            "id", "left",
        )
        .join(
            reached_from_core.select("id", F.lit(True).alias("_out")),
            "id", "left",
        )
    )
    res = flags.select(
        "id",
        "scc",
        F.when(F.col("_core"), F.lit("CORE"))
        .when(F.col("_in") & ~F.coalesce("_out", F.lit(False)),
              F.lit("IN"))
        .when(F.col("_out") & ~F.coalesce("_in", F.lit(False)),
              F.lit("OUT"))
        .otherwise(F.lit("OTHER"))
        .alias("bowtie_class"),
    ).localCheckpoint(eager=True)
    # result materialized (|V| rows, bounded by the derived-graph
    # contract) — release the SCC cache so repeated calls don't
    # accumulate cached frames (ADVICE r8)
    scc.unpersist()
    return res


def neighborhood_function(
    pairs: DataFrame, max_radius: int = 3
) -> DataFrame:
    """Exact neighborhood function N(r) — the distance-distribution
    summary behind effective-diameter reporting (Palmer et al. 2002,
    ANF; Boldi-Vigna 2011, HyperANF): for each radius r in 0..max_radius,
    the number of ordered pairs (u, v) with dist(u, v) <= r on the
    undirected graph, plus the per-radius growth. N(0) = |V|; the radius
    where N(r) stops growing bounds the diameter; the r where N(r)
    reaches 90% of its plateau is the effective diameter.

    Exactness: the reachable-pair sets expand by one superstep join per
    radius with a distinct merge — exact pair counts, no sketches, so
    the oracle reproduces every row. Returns (r, n_pairs, new_pairs).

    Scale contract: exact ANF materializes O(N(r)) state — the same
    bounded-cardinality contract as :func:`transitive_closure`
    (derived/category graphs, or any graph whose ball sizes stay
    polynomial in the budget). At web scale swap the distinct-pair
    state for per-node HLL registers merged along edges (HyperANF):
    same superstep shape, fixed 2^p state per node, approximate counts
    — implemented as :func:`hyperanf`; this exact operator is the
    oracle-checkable core and the register variant's correctness
    reference on small graphs (pytest pins the ratio).
    """
    if max_radius < 0:
        raise ValueError("max_radius must be >= 0")
    spark = pairs.sparkSession
    e = canonical_undirected(pairs)
    sym = (
        e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        visited = (
            sym.select(F.col("a").alias("src"), F.col("a").alias("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        counts = [visited.count()]

        def step(visited: DataFrame) -> DataFrame:
            return visited.unionByName(
                visited.join(
                    sym, visited["dst"] == sym["a"], "inner"
                ).select("src", F.col("b").alias("dst"))
            ).distinct()

        def converged(grown: DataFrame) -> bool:
            counts.append(grown.count())
            # plateau: every ball is complete
            return counts[-1] == counts[-2]

        _supersteps(
            visited, step, max_radius, "neighborhood_function", 1, converged
        )
    finally:
        sym.unpersist()
    counts += counts[-1:] * (max_radius + 1 - len(counts))
    rows = [
        (r, n, n - (counts[r - 1] if r else 0)) for r, n in enumerate(counts)
    ]
    return spark.createDataFrame(
        rows, "r int, n_pairs bigint, new_pairs bigint"
    )


def nearest_seed(
    pairs: DataFrame,
    seeds: "int | Sequence[int]" = 8,
    max_depth: int = 4,
) -> DataFrame:
    """Multi-source BFS "nearest facility" labeling: each node within
    ``max_depth`` hops of any seed gets its CLOSEST seed (hop distance,
    seed-id tiebreak) — the graph Voronoi partition behind
    assign-to-nearest-hub queries (warehouse assignment, seed-expansion
    community labeling). Returns (id, seed, dist).

    Scale shape: rides :func:`landmark_hop_distances` unchanged (all
    seed frontiers advance in one superstep join, exchange-free under
    the broadcast gate); the argmin is ONE aggregation via the
    min-struct trick — (dist, seed) pairs minimize lexicographically,
    so no window and no second shuffle beyond the groupBy.
    """
    d = landmark_hop_distances(
        pairs, landmarks=seeds, max_depth=max_depth
    )
    return (
        d.groupBy("id")
        .agg(
            F.min(
                F.struct(
                    F.col("dist").alias("dist"),
                    F.col("landmark").alias("seed"),
                )
            ).alias("_b")
        )
        .select(
            "id",
            F.col("_b.seed").alias("seed"),
            F.col("_b.dist").cast("int").alias("dist"),
        )
    )


def induced_subgraph_sample(
    pairs: DataFrame, keep_permille: int = 250, salt: str = "sub"
) -> DataFrame:
    """Deterministic induced-subgraph sample: a node survives iff
    md5_63("<id>:<salt>") % 1000 < keep_permille; an edge survives iff
    BOTH endpoints do (node-induced sampling — Leskovec-Faloutsos 2006's
    random-node baseline with a reproducible hash in place of the RNG).
    The debug-at-scale tool: run an expensive analytic on a p-sample
    whose degree structure is an unbiased p²-thinning of the original
    (each edge survives with probability p², uniformly), then
    extrapolate. Same-salt samples NEST across permille levels (the
    hash is fixed, thresholds order), so 10%/25%/50% debug ladders
    share nodes. Returns the surviving canonical (a, b) edges.

    Scale shape: two pure-expression hash filters, pushed by Catalyst
    below the edge derivation to the source scans — map-side only, no
    join, no extra shuffle, no materialization; the canonicalizing
    distinct then carries only the p² surviving fraction
    (filter-after-distinct measured 31.5s vs 9.4s at sf0.1). The
    remaining cost is the md5 chain itself (~4µs/eval × one eval per
    scanned row — embarrassingly parallel on a cluster; a
    kept-node-set semi-join variant measured WORSE on the lazy
    co-order frame, 17.7s, because deriving the node set re-executes
    the un-materialized edge join). The salt keeps independent samples
    independent; same-salt thresholds nest.
    """
    from akka_graph_db_spark.functions.hashing import md5_63

    if not 0 <= keep_permille <= 1000:
        raise ValueError("keep_permille must be in 0..1000")

    def _kept(c):
        return (
            F.pmod(
                md5_63(
                    F.concat(c.cast("string"), F.lit(":" + salt))
                ),
                F.lit(1000),
            )
            < keep_permille
        )

    return canonical_undirected(
        pairs.where(_kept(F.col("a")) & _kept(F.col("b")))
    )


def onion_layers(pairs: DataFrame, max_waves: int = 200) -> DataFrame:
    """Onion decomposition (Hébert-Dufresne, Grochow & Allard 2016,
    Sci. Rep. 6:31708): the peel ORDER that coreness discards. Wave ℓ
    removes every node whose degree in the REMAINING graph is <= the
    current core value k (k ratchets up to the remaining minimum degree
    whenever the previous k-shell is exhausted); a node's layer is the
    wave that removed it, its coreness is the k in force at removal.
    Layers localize nodes within their k-shell (early = periphery of
    the shell, late = its dense core) — the structural centrality the
    plain coreness number flattens.

    Returns (id, layer, coreness) for every non-isolated node.

    Scale shape: each wave is one degree aggregation over the remaining
    edge frame + a min-degree scalar + one anti-join shrink — the exact
    :func:`kcore` peel loop with a wave counter; edge frames are
    localCheckpointed per wave (lineage truncation), removed-node
    frames accumulate by union. Wave count is diameter-and-density
    bounded (the sf0.1 co-order graph peels in well under 100); raises
    RuntimeError past ``max_waves`` — a silent stop would mislabel every
    remaining node (the coreness contract, ADVICE r6).
    """
    e = canonical_undirected(pairs)
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    # an explicit node frame: a node whose last edge was peeled away has
    # remaining degree 0 and MUST still be assigned a layer — it no
    # longer appears in the edge frame at all
    nodes = sym.select("a").distinct().localCheckpoint(eager=True)
    spark = pairs.sparkSession
    out_parts: list[DataFrame] = []
    k = 0
    for wave in range(1, max_waves + 1):
        if nodes.isEmpty():
            break
        deg = nodes.join(
            sym.groupBy("a").agg(F.count(F.lit(1)).alias("_dd")),
            "a",
            "left",
        ).select("a", F.coalesce("_dd", F.lit(0)).alias("_d"))
        k = max(k, int(deg.agg(F.min("_d")).collect()[0][0]))
        removed = deg.where(F.col("_d") <= k).select(
            F.col("a").alias("id"),
            F.lit(wave).cast("int").alias("layer"),
            F.lit(k).cast("int").alias("coreness"),
        ).localCheckpoint(eager=True)
        nodes = nodes.join(
            removed.select(F.col("id").alias("a")), "a", "left_anti"
        ).localCheckpoint(eager=True)
        sym = (
            sym.join(
                removed.select(F.col("id").alias("a")), "a", "left_anti"
            )
            .join(
                removed.select(F.col("id").alias("b")), "b", "left_anti"
            )
            .localCheckpoint(eager=True)
        )
        out_parts.append(removed)
    # post-loop emptiness check, NOT for/else: the for/else form raised
    # even when the graph exhausts in exactly max_waves waves, because
    # the empty-nodes break only fires at the START of the wave AFTER
    # the last peel — which never runs when the loop range is spent
    # (ADVICE r9)
    if not nodes.isEmpty():
        raise RuntimeError(
            f"onion_layers did not exhaust the graph in {max_waves} "
            "waves; raise max_waves"
        )
    if not out_parts:
        return spark.createDataFrame(
            [], "id bigint, layer int, coreness int"
        )
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out


# HLL linear-counting lookup, milli-units: lc(e) = round(1000·m·ln(m/e))
# for e empty registers out of m. Baked as integer literals at module
# load so Spark and the SQL oracle share the SAME constants — no libm
# ln() in either engine's query plan (engine-identical by construction).
_HLL_ALPHA_MILLI = {16: 673, 32: 697, 64: 709}


def _hll_lc_milli(m: int) -> list[int]:
    import math as _math

    return [round(1000 * m * _math.log(m / e)) for e in range(1, m)]


def hyperanf(
    pairs: DataFrame,
    max_radius: int = 3,
    m: int = 16,
    rho_cap: int = 32,
) -> DataFrame:
    """HyperANF (Boldi, Rosa & Vigna 2011, "HyperANF: approximating the
    neighbourhood function of very large graphs on a budget"): the
    neighborhood function N(r) estimated with ONE HyperLogLog counter
    per node, merged along edges — the 100 TB path
    :func:`neighborhood_function` documents, with the exact operator as
    its small-graph correctness oracle.

    State is the sparse register table (node, register, rho): node v
    starts with only its own element inserted (register
    ``hash('reg:'||v) mod m`` holding ``rho('rho:'||v)`` = trailing
    zeros + 1 of an md5-derived 63-bit hash, capped at ``rho_cap``);
    each superstep element-wise max-merges every node's counter with
    its neighbors' — after r rounds node v's counter sketches its
    r-ball. Missing rows ARE register value 0, so the superstep is one
    equi-join + one (node, register) groupBy-max; state is at most
    |V|·m rows FOREVER, the fixed-memory contract exact ANF cannot
    offer.

    Per-node estimates stay in EXACT integer arithmetic end to end so a
    SQL oracle reproduces every row: the raw HLL estimator
    alpha_m·m²/Σ_j 2^(−rho_j) is computed as one BIGINT division with
    the harmonic denominator pre-scaled by 2^rho_cap, and the
    small-range regime (raw ≤ 2.5m, the HLL84 correction) switches to
    linear counting m·ln(m/empty) via a BAKED 15-entry integer lookup
    (`_hll_lc_milli`) — identical literals in both engines, no
    transcendental in any plan. The rounds stop once ``sum_registers``
    stops rising (the state is then final). Returns one row per radius:
    (r, n_nodes, sum_registers, est_pairs_milli) where est_pairs_milli
    = Σ_v est_v in milli-units (exact ANF's n_pairs·1000 is the
    comparison target; pytest pins the ratio on the trade graph).

    Reference: the exact-pair contract at neighborhood_function
    (analytics.py) names this operator as its web-scale swap; Palmer et
    al. 2002 (ANF) for the superstep recursion.
    """
    from akka_graph_db_spark.functions.hashing import md5_63

    if m not in _HLL_ALPHA_MILLI:
        raise ValueError(f"m must be one of {sorted(_HLL_ALPHA_MILLI)}")
    if max_radius < 0:
        raise ValueError("max_radius must be >= 0")
    if rho_cap < 1:
        raise ValueError("rho_cap must be >= 1")
    spark = pairs.sparkSession
    e = canonical_undirected(pairs)
    sym = (
        e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = sym.select("a").distinct()
    w = md5_63(F.concat(F.lit("rho:"), F.col("a").cast("string")))
    rho = F.least(
        F.bit_count(
            (w.bitwiseAND(-w) - F.lit(1)).cast("bigint")
        ).cast("int")
        + F.lit(1),
        F.lit(rho_cap),
    )

    alpha_num = _HLL_ALPHA_MILLI[m] * m * m * (1 << rho_cap)
    lc = _hll_lc_milli(m)
    lc_expr = "CASE _empty " + " ".join(
        f"WHEN {e_} THEN {v}" for e_, v in enumerate(lc, start=1)
    ) + " END"

    def _summary(st: DataFrame, r: int) -> tuple:
        per_node = st.groupBy("a").agg(
            F.count(F.lit(1)).alias("_occ"),
            F.sum(
                F.expr(
                    f"shiftleft(cast(1 as bigint), {rho_cap} - _reg)"
                )
            ).alias("_occ_denom"),
            F.sum("_reg").cast("bigint").alias("_sumreg"),
        ).select(
            "_sumreg",
            (F.lit(m) - F.col("_occ")).cast("int").alias("_empty"),
            (
                F.col("_occ_denom")
                + (F.lit(m) - F.col("_occ"))
                * F.lit(1 << rho_cap).cast("bigint")
            ).alias("_denom"),
        ).select(
            "_sumreg",
            F.when(
                (F.expr(f"{alpha_num} div _denom") <= F.lit(2500 * m))
                & (F.col("_empty") > 0),
                F.expr(lc_expr),
            )
            .otherwise(F.expr(f"{alpha_num} div _denom"))
            .cast("bigint")
            .alias("_est"),
        )
        row = per_node.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("_sumreg").cast("bigint").alias("sum_registers"),
            F.sum("_est").cast("bigint").alias("est_pairs_milli"),
        ).collect()[0]
        return (r, row.n_nodes, row.sum_registers, row.est_pairs_milli)

    def step(st: DataFrame) -> DataFrame:
        return (
            st.join(sym, st["a"] == sym["a"], "inner")
            .select(F.col("b").alias("a"), "_j", "_reg")
            .unionByName(st)
            .groupBy("a", "_j")
            .agg(F.max("_reg").alias("_reg"))
        )

    def converged(st: DataFrame) -> bool:
        rows.append(_summary(st, len(rows)))
        # every register is >= 1 and max-merge never lowers one, so an
        # unchanged sum means an unchanged state: later rounds are no-ops
        return rows[-1][2] == rows[-2][2]

    try:
        state = nodes.select(
            "a",
            F.pmod(
                md5_63(F.concat(F.lit("reg:"), F.col("a").cast("string"))),
                F.lit(m),
            ).cast("int").alias("_j"),
            rho.cast("int").alias("_reg"),
        ).localCheckpoint(eager=True)
        rows = [_summary(state, 0)]
        _supersteps(state, step, max_radius, "hyperanf", 1, converged)
    finally:
        sym.unpersist()
    while len(rows) <= max_radius:
        rows.append((len(rows), *rows[-1][1:]))
    return spark.createDataFrame(
        rows,
        "r int, n_nodes bigint, sum_registers bigint, "
        "est_pairs_milli bigint",
    )


def effective_diameter(
    pairs: DataFrame,
    max_radius: int = 8,
    fraction_ppm: int = 900000,
) -> DataFrame:
    """Effective diameter (Palmer et al. 2002; Leskovec et al. 2005
    "Graphs over Time" use the 90th-percentile form): the smallest
    radius r where the neighborhood function reaches ``fraction_ppm``
    (default 90%) of its plateau, linearly interpolated between N(r−1)
    and N(r) — the distance summary robust to the one long path that
    dominates the true diameter. Returns ONE row: (n_nodes,
    n_pairs_max, diameter_reached, effective_diameter_ppm), the
    interpolated radius in exact ppm integers (eff·1e6).

    Everything derives from :func:`neighborhood_function`'s exact pair
    counts with pure integer arithmetic — frac = (t − N(r−1)) /
    (N(r) − N(r−1)) with target t = fraction_ppm·Nmax/1e6 becomes ONE
    BIGINT division (fraction_ppm·Nmax − 1e6·N(r−1)) div (N(r) −
    N(r−1)), exact while Nmax < 9.2e12 pairs (past that exact ANF's
    O(N(r)) state is the binding limit anyway — use :func:`hyperanf`).
    The (max_radius+1)-row frame is joined to its own r−1 row and the
    1-row plateau aggregate, both broadcast — no window, nothing
    driver-side but the final row. ``diameter_reached`` is true when
    the plateau was hit within ``max_radius`` (otherwise the reported
    value is a lower bound).
    """
    if not 0 < fraction_ppm <= 1000000:
        raise ValueError("fraction_ppm must be in (0, 1e6]")
    nf = neighborhood_function(pairs, max_radius).select(
        "r", "n_pairs", "new_pairs"
    )
    mx = nf.agg(
        F.max("n_pairs").alias("_nmax"),
        F.max(F.when(F.col("new_pairs") > 0, F.col("r"))).alias(
            "_rlast"
        ),
        F.max("r").alias("_rcap"),
        F.min(F.when(F.col("r") == 0, F.col("n_pairs"))).alias(
            "_nnodes"
        ),
    )
    prev = nf.select(
        (F.col("r") + 1).alias("r"), F.col("n_pairs").alias("_prev")
    )
    hit = (
        nf.join(F.broadcast(prev), "r", "left")
        .crossJoin(F.broadcast(mx))
        .where(
            F.col("n_pairs") * F.lit(1000000)
            >= F.col("_nmax") * F.lit(fraction_ppm)
        )
        .select(
            "_nnodes",
            "_nmax",
            "_rlast",
            "_rcap",
            "r",
            "n_pairs",
            F.coalesce("_prev", F.lit(0)).alias("_prev"),
        )
        .orderBy("r")
        .limit(1)
    )
    return hit.select(
        F.col("_nnodes").cast("bigint").alias("n_nodes"),
        F.col("_nmax").cast("bigint").alias("n_pairs_max"),
        (F.col("_rlast") < F.col("_rcap")).alias("diameter_reached"),
        F.when(F.col("r") == 0, F.lit(0).cast("bigint"))
        .otherwise(
            (F.col("r") - 1) * F.lit(1000000)
            + F.expr(
                f"(_nmax * {int(fraction_ppm)} - _prev * 1000000) "
                "div (n_pairs - _prev)"
            )
        )
        .cast("bigint")
        .alias("effective_diameter_ppm"),
    )


def kcenter_landmarks(
    pairs: DataFrame,
    k: int = 3,
    max_depth: int = 4,
) -> DataFrame:
    """Farthest-first traversal (Gonzalez 1985, 2-approximate metric
    k-center) under the hop metric: start from the lowest node id, then
    repeatedly add the node FARTHEST from the current center set — the
    principled landmark selection for the sampled-centrality and
    landmark-BFS operators (spread-out landmarks bound the distance
    oracle error; lowest-id seeds cluster wherever ids cluster).
    Returns (center_rank, id, dist) — dist is the node's hop distance
    to the PREVIOUS centers when it was chosen (the k-center radius
    after rank i is row i+1's dist; rank 1 carries 0).

    Determinism contract: nodes beyond ``max_depth`` hops of every
    center (or disconnected) rank as dist = max_depth + 1, tiebreak
    smallest id — so the pick is a pure (dist DESC, id ASC) argmax,
    reproducible by the SQL oracle via the same unrolled min-dist
    relaxation.

    Scale shape: each round is ONE :func:`nearest_seed` multi-source
    sweep from the center set (all center frontiers advance in the same
    superstep join — k rounds cost k sweeps, never k·|V| BFS runs) plus
    a 1-row argmax collect; centers accumulate driver-side (k is small
    by definition — it parameterizes landmark budgets, not data).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    # checkpoint the canonical edges ONCE: each round's nearest_seed
    # sweep starts from this frame instead of re-deriving the (possibly
    # join-heavy) input lineage per round
    e = canonical_undirected(pairs).localCheckpoint(eager=True)
    nodes = e.select("a").unionByName(
        e.select(F.col("b").alias("a"))
    ).distinct().localCheckpoint(eager=True)
    first = nodes.agg(F.min("a")).collect()[0][0]
    if first is None:
        return pairs.sparkSession.createDataFrame(
            [], "center_rank int, id bigint, dist int"
        )
    centers = [int(first)]
    out = [(1, int(first), 0)]
    far = F.lit(max_depth + 1)
    for rank in range(2, k + 1):
        near = nearest_seed(e, seeds=centers, max_depth=max_depth)
        scored = nodes.join(
            near.select(F.col("id").alias("a"), "dist"), "a", "left"
        ).select(
            "a", F.coalesce(F.col("dist"), far).cast("int").alias("_d")
        )
        pick = (
            scored.orderBy(F.col("_d").desc(), F.col("a").asc())
            .limit(1)
            .collect()
        )
        # dist 0 means the farthest node is already a center (only seeds
        # sit at distance 0 under the hop metric) — every node is covered,
        # so k exceeds the node count; stop instead of emitting the
        # smallest-id center again as a duplicate landmark row.
        if not pick or int(pick[0]._d) == 0:
            break
        centers.append(int(pick[0].a))
        out.append((rank, int(pick[0].a), int(pick[0]._d)))
    return pairs.sparkSession.createDataFrame(
        out, "center_rank int, id bigint, dist int"
    )


def _canonical_weighted(wpairs: DataFrame):
    """Canonical undirected weighted edges: (a<b, MIN cost) plus the
    symmetric view, both checkpointed once — the shared substrate of
    the weighted relaxation operators."""
    e = (
        wpairs.select(
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
            F.col("w").cast("bigint").alias("w"),
        )
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    ).localCheckpoint(eager=True)
    return e, sym


def _weighted_relax(
    sym: DataFrame, seeds, max_rounds: int, per_seed: bool = False
) -> DataFrame:
    """Bounded Bellman-Ford over the symmetric weighted edges: exactly
    ``max_rounds`` supersteps of the lexicographic (cost, seed)
    min-plus relaxation (translation-invariant, so round r holds the
    exact min over ≤r-edge paths). Returns (id, d, seed) for every
    touched id — seeds at d = 0 — or, with ``per_seed``, for every
    touched (id, seed) pair. A round reads its input twice (union and
    join), so each is checkpointed lest the plan double every round."""

    def step(dist: DataFrame) -> DataFrame:
        relaxed = dist.join(sym, dist["id"] == sym["a"]).select(
            F.col("b").alias("id"),
            (F.col("d") + F.col("w")).alias("d"),
            "seed",
        )
        return (
            dist.unionByName(relaxed)
            .groupBy("id", *(["seed"] if per_seed else []))
            .agg(F.min(F.struct(F.col("d"), F.col("seed"))).alias("_b"))
            .select("id", "_b.d", "_b.seed")
        )

    dist = sym.sparkSession.createDataFrame(
        [(s, 0, s) for s in sorted(set(seeds))],
        "id bigint, d bigint, seed bigint",
    )
    return _supersteps(
        dist, step, max_rounds, "weighted_relax", checkpoint_every=1
    )


def weighted_nearest_seed(
    wpairs: DataFrame,
    seeds: "Sequence[int]",
    max_rounds: int = 4,
) -> DataFrame:
    """Multi-source cheapest-cost facility labeling — the weighted twin
    of :func:`nearest_seed`: each node reachable within ``max_rounds``
    edges gets its CHEAPEST seed by total edge cost (seed-id tiebreak)
    — "assign every node to its cheapest hub" on graphs where hop count
    lies about proximity. ``wpairs`` is (a, b, w) positive integer
    costs, canonicalized undirected with MIN cost per edge. Returns
    (id, seed, cost); nodes unreached within the bound are omitted.

    Determinism contract: the state is the lexicographic MIN (cost,
    seed) pair, relaxed for EXACTLY ``max_rounds`` supersteps.
    Lexicographic min-plus is still Bellman-Ford-correct (adding w to
    both candidates preserves the (cost, seed) order), so round r holds
    the exact min over ≤r-edge paths — a closed form the SQL oracle
    unrolls with the same per-round (cost, seed) argmin.

    Scale shape: one (id, struct) row per touched node; every seed's
    frontier advances in the same superstep join (k seeds cost ONE
    sweep, never k); each round is one equi-join + one
    map-side-combinable min aggregation on the stable node key.
    """
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    seeds = [int(s) for s in seeds]
    if not seeds:
        raise ValueError("seeds must be non-empty")
    _, sym = _canonical_weighted(wpairs)
    dist = _weighted_relax(sym, seeds, max_rounds)
    # restrict to actual graph nodes: a seed id that is not a node must
    # not mint an output row
    nodes = sym.select(F.col("a").alias("id")).distinct()
    return dist.join(nodes, "id").select(
        "id", "seed", F.col("d").cast("bigint").alias("cost")
    )


def weighted_landmark_costs(
    wpairs: DataFrame,
    landmarks: "Sequence[int]",
    max_rounds: int = 4,
) -> DataFrame:
    """Per-landmark bounded cheapest costs — the weighted twin of
    :func:`landmark_hop_distances`: (id, landmark, cost) for every
    (node, landmark) pair within ``max_rounds`` edges, cost = exact min
    total edge cost over ≤max_rounds-edge paths (plain Bellman-Ford per
    landmark, all landmarks advancing in the SAME superstep join — the
    state is keyed (id, landmark), so k landmarks cost one sweep with
    k× state, never k sweeps; :func:`_weighted_relax` keyed per seed).
    The substrate for weighted sampled
    centralities; :func:`weighted_nearest_seed` is its argmin.
    """
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    landmarks = sorted({int(s) for s in landmarks})
    if not landmarks:
        raise ValueError("landmarks must be non-empty")
    _, sym = _canonical_weighted(wpairs)
    state = _weighted_relax(sym, landmarks, max_rounds, per_seed=True)
    nodes = sym.select(F.col("a").alias("id")).distinct()
    return state.join(nodes, "id").select(
        "id",
        F.col("seed").alias("landmark"),
        F.col("d").cast("bigint").alias("cost"),
    )


def weighted_harmonic(
    wpairs: DataFrame,
    landmarks: "Sequence[int]",
    max_rounds: int = 4,
) -> DataFrame:
    """Weighted harmonic centrality estimate from a landmark sample
    (Eppstein-Wang under the edge-cost metric): per node, the sum of
    reciprocal bounded costs to the landmarks — in EXACT integers,
    h_ppb = Σ_l (10^9 div cost(l, node)) over landmarks with cost > 0
    (the node-is-landmark 1/0 term is excluded; nodes reaching no
    landmark are omitted). The hop-metric ``harmonic_parts`` ranks a
    node adjacent via one expensive edge as central; this is the form
    that doesn't. Returns (id, n_reached, h_ppb).

    Scale shape: one :func:`weighted_landmark_costs` sweep (state
    |touched| × |landmarks| rows, one equi-join + one min agg per
    superstep) + one map-side-combinable groupBy; the reciprocals are
    integer floor divisions, so any engine reproduces the scores
    bit-for-bit.
    """
    c = weighted_landmark_costs(wpairs, landmarks, max_rounds)
    return (
        c.where(F.col("cost") > 0)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
            F.sum(F.expr("1000000000 div cost"))
            .cast("bigint")
            .alias("h_ppb"),
        )
    )


def weighted_eccentricity(
    wpairs: DataFrame,
    landmarks: "Sequence[int]",
    max_rounds: int = 4,
) -> DataFrame:
    """Weighted bounded eccentricity ESTIMATE from a landmark sample —
    the edge-cost twin of the hop-metric landmark eccentricity (same
    Eppstein-Wang landmark-sampling substrate): per node, the MAX
    bounded cheapest cost to any landmark it reaches within
    ``max_rounds`` edges. Returns (id, n_reached, ecc_est) in exact
    BIGINT; ``n_reached`` counts all (node, landmark) pairs within the
    bound INCLUDING the node-is-landmark cost-0 self pair (which never
    moves the max). Nodes reaching no landmark are omitted.

    Estimator contract — deliberately NOT named a lower bound: the
    landmark SAMPLE lower-bounds the max while the bounded-round cost
    UPPER-bounds each distance (round r holds the exact min over
    ≤r-edge paths, so a cheap many-edge path outside the bound is not
    seen — unlike the hop metric, where bounded BFS distance is exact
    for every reached node and the max is a true lower bound).
    ``ecc_est`` equals the classic landmark eccentricity lower bound
    exactly when ``max_rounds`` covers the cheapest paths to the
    landmarks (e.g. max_rounds ≥ the graph's hop diameter); raise
    rounds, not landmarks, to converge it.

    Scale shape: one :func:`weighted_landmark_costs` sweep (all
    landmarks advance in the same superstep join, state |touched| ×
    |landmarks| rows) + one map-side-combinable groupBy MAX/COUNT —
    nothing data-sized after the sweep, no windows, no collects.
    """
    c = weighted_landmark_costs(wpairs, landmarks, max_rounds)
    return c.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reached"),
        F.max("cost").cast("bigint").alias("ecc_est"),
    )


def weighted_closeness(
    wpairs: DataFrame,
    landmarks: "Sequence[int]",
    max_rounds: int = 4,
) -> DataFrame:
    """Weighted bounded closeness centrality from a landmark sample —
    the edge-cost twin of the hop-metric sampled closeness (reciprocal
    mean landmark distance, Eppstein-Wang): per node, c_ppb =
    (n_reached · 10⁹) div Σ cost over the landmarks reached at cost > 0
    within ``max_rounds`` edges (the self pair is excluded, matching
    :func:`weighted_harmonic`) — EXACT integer floor division, so any
    engine reproduces the scores bit-for-bit. Returns (id, n_reached,
    sum_cost, c_ppb); nodes reaching no landmark at positive cost are
    omitted. Where harmonic sums reciprocals (robust to one unreachable
    landmark), closeness reciprocates the sum — both off ONE shared
    substrate sweep.

    Scale shape: one :func:`weighted_landmark_costs` sweep + one
    map-side-combinable groupBy SUM/COUNT + a pure projection.
    """
    c = weighted_landmark_costs(wpairs, landmarks, max_rounds)
    return (
        c.where(F.col("cost") > 0)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
            F.sum("cost").cast("bigint").alias("sum_cost"),
        )
        .select(
            "id",
            "n_reached",
            "sum_cost",
            F.expr("(n_reached * 1000000000) div sum_cost")
            .cast("bigint")
            .alias("c_ppb"),
        )
    )


def weighted_effective_diameter(
    wpairs: DataFrame,
    landmarks: "Sequence[int]",
    max_rounds: int = 4,
    fraction_ppm: int = 900000,
) -> DataFrame:
    """Weighted effective diameter from a landmark sample — the
    edge-cost twin of :func:`effective_diameter` (Palmer et al. 2002;
    Leskovec et al. 2005 90th-percentile form): the ``fraction_ppm``
    quantile of the bounded (node, landmark) COST distribution,
    linearly interpolated between the adjacent distinct costs —
    "within what total edge cost do 90% of sampled reachable pairs
    sit". The pair population is every (node, landmark) pair within
    ``max_rounds`` edges, including the cost-0 landmark self pairs
    (the hop form likewise counts its dist-0 pairs in N(0)). Returns
    ONE row (n_pairs, max_cost, eff_cost_ppm), eff_cost_ppm = the
    interpolated quantile cost × 10⁶ in exact BIGINT arithmetic:
    with hit = the ⌈ppm·n/10⁶⌉-th smallest cost, c_prev = the largest
    cost below it (0 if none) and cum_prev/cnt_hit their counts,
    eff_cost_ppm = 10⁶·c_prev + (hit−c_prev)·(ppm·n − 10⁶·cum_prev)
    div cnt_hit — the hop form's interpolation with the unit radius
    gap generalized to the cost gap (exact while cost_gap · ppm · n
    < 2⁶³).

    Scale shape: one :func:`weighted_landmark_costs` sweep, a 1-row
    total aggregate, a :func:`~akka_graph_db_spark.functions.ranking.
    global_rank` order-statistic pick (range repartition + parallel
    windows — never a single-partition sort), and one bounded
    interpolation aggregate against the broadcast 1-row hit — no
    data-sized window, no driver-side data but 1-row frames.
    """
    if not 0 < fraction_ppm <= 1000000:
        raise ValueError("fraction_ppm must be in (0, 1e6]")
    from akka_graph_db_spark.functions.ranking import global_rank

    c = weighted_landmark_costs(wpairs, landmarks, max_rounds)
    # the t-th smallest cost IS "the smallest cost whose cumulative
    # count reaches t": one distributed order statistic, no cost-CDF
    # materialization. global_rank returns its output eagerly
    # checkpointed, so EVERY downstream read (tot, hit, parts) comes
    # off that materialization — the relax sweep behind `c` runs
    # exactly once per call.
    ranked = global_rank(c, ["cost", "id", "landmark"], rank_col="_rn")
    tot = ranked.agg(
        F.count(F.lit(1)).alias("_n"), F.max("cost").alias("_mx")
    )
    hit = (
        ranked.crossJoin(F.broadcast(tot))
        .where(
            F.col("_rn")
            == F.expr(f"({int(fraction_ppm)} * _n + 999999) div 1000000")
        )
        .select(F.col("cost").alias("_hd"), "_n", "_mx")
    )
    parts = (
        ranked.select("cost")
        .crossJoin(F.broadcast(hit))
        .groupBy("_hd", "_n", "_mx")
        .agg(
            F.max(
                F.when(F.col("cost") < F.col("_hd"), F.col("cost"))
            ).alias("_cp"),
            F.sum(
                F.when(F.col("cost") < F.col("_hd"), 1).otherwise(0)
            ).alias("_cumprev"),
            F.sum(
                F.when(F.col("cost") == F.col("_hd"), 1).otherwise(0)
            ).alias("_cnth"),
        )
    )
    return parts.select(
        F.col("_n").cast("bigint").alias("n_pairs"),
        F.col("_mx").cast("bigint").alias("max_cost"),
        (
            F.coalesce("_cp", F.lit(0)) * F.lit(1000000)
            + F.expr(
                f"((_hd - coalesce(_cp, 0)) * "
                f"({int(fraction_ppm)} * _n - _cumprev * 1000000)) "
                "div _cnth"
            )
        )
        .cast("bigint")
        .alias("eff_cost_ppm"),
    )


def weighted_modularity(
    wpairs: DataFrame, assignment: DataFrame
) -> DataFrame:
    """Weight-aware Newman-Girvan modularity Q of a community
    ``assignment`` (id, community) over a weighted undirected (a, b, w)
    frame — the affinity-weighted twin of :func:`community_modularity`
    (Newman 2004, "Analysis of weighted networks"): edges count by
    weight, so a partition that cuts one heavy corridor scores worse
    than one that cuts ten trivial ones.

        Q = Σ_c [ W_c/W − (S_c / 2W)² ]

    (W_c = intra-community weight, S_c = community weighted degree,
    W = total undirected weight). Exactness design, same contract as
    the unweighted form: with A = 2W symmetric arc weight and
    In = intra-community arc weight, Q = (A·In − Σ_c S_c²) / A² —
    numerator and denominator are exact integer aggregates carried as
    DECIMAL(38,0); one double division + an agreed round(6) at the
    end, so a SQL oracle reproduces Q bit-for-bit. Edges canonicalize
    undirected with MIN weight (the :func:`_canonical_weighted`
    substrate); arcs with an UNASSIGNED endpoint are excluded from
    both numerator and denominator (document the universe, don't
    guess it). Returns ONE row (total_weight, n_communities,
    modularity).

    Plan shape: two equi-joins tag each arc endpoint with its
    community (AQE broadcasts a small assignment side), then ONE
    per-community weight aggregation — the data-sized tagged-arc frame
    is read exactly once; A, In, Σ S_c², and the community count all
    derive from the |communities|-row result in a second tiny
    aggregation. Nothing quadratic, no collect. All weight sums run in
    DECIMAL(38,0) from the first partial aggregate (a BIGINT
    accumulator could wrap past 2⁶³ total weight — the exactness
    contract forbids that).
    """
    _, sym = _canonical_weighted(wpairs)
    asg = assignment.select("id", "community")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tagged = sym.join(
        asg.select(F.col("id").alias("a"), F.col("community").alias("ca")),
        "a",
    ).join(
        asg.select(F.col("id").alias("b"), F.col("community").alias("cb")),
        "b",
    )
    # S_c (weighted degree sum) and W_c (intra weight): each symmetric
    # arc charges its full weight to its SOURCE community, so ONE
    # groupBy over the tagged arcs yields both — no per-node
    # intermediate, and no second pass over the data-sized frame.
    per = tagged.groupBy("ca").agg(
        F.sum(dec(F.col("w"))).alias("_sc"),
        F.sum(
            dec(F.when(F.col("ca") == F.col("cb"), F.col("w")).otherwise(0))
        ).alias("_wc"),
    )
    j = per.agg(
        F.sum("_sc").alias("_arcs_w"),
        F.sum("_wc").alias("_within_w"),
        F.sum(F.col("_sc") * F.col("_sc")).alias("_sum_sc2"),
        F.count(F.lit(1)).alias("_n_comm"),
    )
    a_ = F.col("_arcs_w")
    num = (a_ * F.col("_within_w") - F.col("_sum_sc2")).cast("double")
    den = (a_ * a_).cast("double")
    return j.select(
        (F.col("_arcs_w") / 2).cast("long").alias("total_weight"),
        F.col("_n_comm").cast("long").alias("n_communities"),
        F.round(num / den, 6).alias("modularity"),
    )


def community_conductance(
    wpairs: DataFrame, assignment: DataFrame
) -> DataFrame:
    """Per-community weighted conductance — the cut-quality companion
    to :func:`weighted_modularity` (Kannan-Vempala-Vetta 2004; the
    standard "is this cluster a bottleneck or a blob" score):

        φ(C) = cut(C) / min(vol(C), vol(V∖C))

    with cut(C) = total weight of edges leaving C and vol(C) = total
    weighted degree of C's nodes, both measured in symmetric-arc weight
    (each undirected edge contributes 2w to volumes, w to each
    endpoint; a cut edge contributes w to each side's cut — the
    arc-weight convention makes every quantity a plain SUM). Low φ =
    well-separated community; φ = 0 is a disconnected component.

    Exactness: all sums are integer arc weights; conductance_ppm =
    (cut_w · 10⁶) div min(vol_w, A − vol_w) is one BIGINT floor
    division (A = total arc weight) — bit-reproducible anywhere.
    Communities with min(vol, A−vol) = 0 (a community holding EVERY
    assigned arc) report φ_ppm = 0 by convention (no outside to leak
    to). Arcs with an unassigned endpoint are excluded from the
    universe, same contract as :func:`weighted_modularity`. Returns
    (community, n_nodes, vol_w, cut_w, conductance_ppm).

    Plan shape: the same two community-tag equi-joins as
    weighted_modularity, one |communities|-row aggregation — the
    data-sized tagged-arc frame is read exactly once (the per-community
    result checkpoints eagerly, communities-row tiny, so the 1-row
    total and the final projection both come off the materialization,
    never re-running the joins) — crossed with a broadcast 1-row
    total. Nothing quadratic, no collect.
    """
    _, sym = _canonical_weighted(wpairs)
    asg = assignment.select("id", "community")
    tagged = sym.join(
        asg.select(F.col("id").alias("a"), F.col("community").alias("ca")),
        "a",
    ).join(
        asg.select(F.col("id").alias("b"), F.col("community").alias("cb")),
        "b",
    )
    per = (
        tagged.groupBy(F.col("ca").alias("community"))
        .agg(
            F.count_distinct(F.col("a")).cast("bigint").alias("n_nodes"),
            F.sum("w").cast("bigint").alias("vol_w"),
            F.sum(
                F.when(F.col("ca") != F.col("cb"), F.col("w")).otherwise(0)
            )
            .cast("bigint")
            .alias("cut_w"),
        )
        .localCheckpoint(eager=True)
    )
    tot = per.agg(F.sum("vol_w").alias("_aw"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "community",
            "n_nodes",
            "vol_w",
            "cut_w",
            F.when(F.least("vol_w", F.expr("_aw - vol_w")) == 0, F.lit(0))
            .otherwise(
                F.expr("(cut_w * 1000000) div least(vol_w, _aw - vol_w)")
            )
            .cast("bigint")
            .alias("conductance_ppm"),
        )
    )


def kcenter_landmarks_weighted(
    wpairs: DataFrame,
    k: int = 3,
    max_rounds: int = 4,
) -> DataFrame:
    """Distance-weighted farthest-first traversal (Gonzalez 1985 under
    an integer edge-cost metric): like :func:`kcenter_landmarks`, but
    "far" means total edge COST, not hop count — the landmark pick for
    weighted graphs, where the hop metric calls a node adjacent via one
    expensive edge "close". ``wpairs`` is (a, b, w) with positive
    integer costs; edges canonicalize undirected with the MIN cost when
    both directions exist. Returns (center_rank, id, cost) — cost is
    the node's bounded cheapest cost to the PREVIOUS centers when
    chosen (rank 1 carries 0).

    Determinism contract: the distance is Bellman-Ford with EXACTLY
    ``max_rounds`` relaxation supersteps — the exact min total cost
    over paths of ≤ max_rounds edges, a closed form the SQL oracle
    reproduces by unrolling the same relaxations. Nodes unreached
    within the bound rank as max_rounds · max(w) + 1 (strictly above
    any reachable bounded cost), tiebreak smallest id — a pure
    (cost DESC, id ASC) argmax, all in exact BIGINT.

    Scale shape: the canonical weighted edges checkpoint ONCE; each
    Gonzalez round costs max_rounds relaxation joins (frontier state is
    one (id, cost) row per touched node — all centers relax in the
    same superstep, never k separate sweeps) plus a 1-row argmax
    collect. Two scalar collects (min id, max w) bootstrap the loop.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    spark = wpairs.sparkSession
    e, sym = _canonical_weighted(wpairs)
    nodes = sym.select("a").distinct().localCheckpoint(eager=True)
    row = nodes.agg(F.min("a")).collect()
    first = row[0][0] if row else None
    if first is None:
        return spark.createDataFrame(
            [], "center_rank int, id bigint, cost bigint"
        )
    far = int(e.agg(F.max("w")).collect()[0][0]) * max_rounds + 1
    centers = [int(first)]
    out = [(1, int(first), 0)]
    for rank in range(2, k + 1):
        # the shared (cost, seed) sweep; Gonzalez only reads the cost
        dist = _weighted_relax(sym, centers, max_rounds).select(
            "id", "d"
        )
        scored = nodes.join(
            dist.withColumnRenamed("id", "a"), "a", "left"
        ).select(
            "a",
            F.coalesce(F.col("d"), F.lit(far)).cast("bigint").alias("_d"),
        )
        pick = (
            scored.orderBy(F.col("_d").desc(), F.col("a").asc())
            .limit(1)
            .collect()
        )
        # cost 0 <=> the farthest node is already a center (positive
        # costs): stop, same duplicate-landmark guard as the hop form.
        if not pick or int(pick[0]._d) == 0:
            break
        centers.append(int(pick[0].a))
        out.append((rank, int(pick[0].a), int(pick[0]._d)))
    return spark.createDataFrame(
        out, "center_rank int, id bigint, cost bigint"
    )
