"""Round-10 operator tests: HyperANF registers, effective diameter,
stratified k-fold, MAD outliers, plus regression pins for the r9
ADVICE fixes (decontamination recall bands, onion max_waves boundary,
importance_scores zero-token docs, wide-decimal hash guard).
"""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------- hyperanf
def test_hyperanf_tracks_exact_anf_on_path(spark):
    """m=16 HLL estimates on the 5-path stay within 25% of the exact
    neighborhood function at every radius, and the register totals are
    monotone (max-merge can only grow state)."""
    from akka_graph_db_spark.operators.analytics import (
        hyperanf,
        neighborhood_function,
    )

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a bigint, b bigint"
    )
    exact = {r.r: r.n_pairs for r in neighborhood_function(path, 4).collect()}
    rows = hyperanf(path, max_radius=4).collect()
    assert [r.r for r in rows] == [0, 1, 2, 3, 4]
    sumregs = [r.sum_registers for r in rows]
    assert sumregs == sorted(sumregs)
    for r in rows:
        est = r.est_pairs_milli / 1000.0
        assert est == pytest.approx(exact[r.r], rel=0.25)
        assert r.n_nodes == 5


def test_hyperanf_deterministic_and_m_validated(spark):
    from akka_graph_db_spark.operators.analytics import hyperanf

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "a bigint, b bigint"
    )
    a = hyperanf(tri, max_radius=2).collect()
    b = hyperanf(tri, max_radius=2).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # r=1 already saturates a triangle: ball = whole graph, frozen after
    assert a[1].sum_registers == a[2].sum_registers
    assert a[1].est_pairs_milli == a[2].est_pairs_milli
    with pytest.raises(ValueError):
        hyperanf(tri, m=13)
    # registers must be >= 1: the plateau stop reads an unchanged
    # register sum as an unchanged state
    with pytest.raises(ValueError, match="rho_cap"):
        hyperanf(tri, rho_cap=0)


# ------------------------------------------------- effective diameter
def test_effective_diameter_path_interpolation(spark):
    """5-path: N = [5,13,19,23,25]; target 22.5 falls between N(2)=19
    and N(3)=23 -> 2 + 3.5/4 = 2.875 exactly (ppm integers)."""
    from akka_graph_db_spark.operators.analytics import effective_diameter

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a bigint, b bigint"
    )
    row = effective_diameter(path, max_radius=4).collect()[0]
    assert row.n_nodes == 5 and row.n_pairs_max == 25
    assert row.effective_diameter_ppm == 2875000
    # still growing at the cap -> plateau NOT observed
    assert row.diameter_reached is False
    # radius 6 sees the plateau (diameter 4 < cap)
    row2 = effective_diameter(path, max_radius=6).collect()[0]
    assert row2.diameter_reached is True
    assert row2.effective_diameter_ppm == 2875000


def test_effective_diameter_complete_graph_zero_hops(spark):
    """K3: N(1) is already the plateau; the 90% target falls in the
    (0,1] segment -> interpolated value <= 1.0 and r=0 never divides."""
    from akka_graph_db_spark.operators.analytics import effective_diameter

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "a bigint, b bigint"
    )
    row = effective_diameter(tri, max_radius=3).collect()[0]
    # N = [3, 9, 9, 9]; target 8.1 -> r=1, frac=(8.1-3)/6=0.85
    assert row.effective_diameter_ppm == 850000
    assert row.diameter_reached is True
    with pytest.raises(ValueError):
        effective_diameter(tri, fraction_ppm=0)


# ------------------------------------------------- stratified k-fold
def test_stratified_kfold_balance_and_determinism(spark):
    from akka_graph_db_spark.functions.mixture import stratified_kfold

    rows = [(i, i % 3) for i in range(101)]
    df = spark.createDataFrame(rows, "vec_id bigint, label int")
    out = stratified_kfold(df, k=5, label_col="label", id_col="vec_id")
    per = (
        out.groupBy("label", "fold")
        .count()
        .groupBy("label")
        .agg(F.min("count").alias("lo"), F.max("count").alias("hi"),
             F.count(F.lit(1)).alias("nfolds"))
        .collect()
    )
    for r in per:
        assert r.hi - r.lo <= 1   # round-robin balance within 1
        assert r.nfolds == 5      # every fold populated
    # membership is a pure function of (label, id) — rerun identical
    a = {(r.vec_id): r.fold for r in out.collect()}
    b = {
        (r.vec_id): r.fold
        for r in stratified_kfold(
            df, k=5, label_col="label", id_col="vec_id"
        ).collect()
    }
    assert a == b
    with pytest.raises(ValueError):
        stratified_kfold(df, k=0)


# ----------------------------------------------------- mad outliers
def test_mad_outliers_hand_case(spark):
    from akka_graph_db_spark.functions.profile import mad_outliers

    t = spark.createDataFrame(
        [("g", v, i) for i, v in enumerate([1, 2, 3, 4, 100])],
        "g string, v bigint, id bigint",
    )
    row = mad_outliers(t, "g", "v", "id").collect()[0]
    # sorted values 1,2,3,4,100: lower median 3; |v-3| = 2,1,0,1,97
    # sorted 0,1,1,2,97: MAD 1; only 100 exceeds 3*1 from the median
    assert row.n == 5 and row.median == 3 and row.mad == 1
    assert row.n_outliers == 1 and row.outlier_ppm == 200000


def test_mad_outliers_robust_where_zscore_is_dragged(spark):
    """One extreme value inflates mean/stddev enough that a 2-sigma
    z-screen misses it on a tiny group; MAD still flags it."""
    from akka_graph_db_spark.functions.profile import mad_outliers

    vals = [10, 11, 12, 13, 14, 1000]
    t = spark.createDataFrame(
        [("g", v, i) for i, v in enumerate(vals)],
        "g string, v bigint, id bigint",
    )
    row = mad_outliers(t, "g", "v", "id").collect()[0]
    assert row.median == 12 and row.mad == 1
    assert row.n_outliers == 1


# ------------------------------------------- r9 ADVICE regression pins
def test_decontamination_multiband_recall(spark):
    """A pair at cosine ~0.95 (NOT an exact copy) must be reachable:
    with 6 OR'd bands the planted near-copy is found (the old single
    12-plane band missed ~70% of such pairs; this seed is one it
    catches via a later band, any-band collision being the contract)."""
    from akka_graph_db_spark.functions.dedup import (
        embedding_decontamination,
    )
    import math

    # 64-dim: e1 and cos(t)*e1 + sin(t)*e2 with t = acos(0.95)
    t = math.acos(0.95)
    v1 = [1.0] + [0.0] * 63
    v2 = [math.cos(t), math.sin(t)] + [0.0] * 62
    train = spark.createDataFrame(
        [(1, v1), (2, [0.0] * 32 + [1.0] * 32)],
        "vec_id bigint, embedding array<float>",
    )
    ev = spark.createDataFrame(
        [(100, v2)], "vec_id bigint, embedding array<float>"
    )
    out = embedding_decontamination(
        train, ev, threshold=0.94
    ).collect()
    assert [(r.eval_id, r.train_id) for r in out] == [(100, 1)]
    # exactly once, despite colliding in multiple bands
    assert len(out) == 1


def test_onion_layers_exact_max_waves_boundary(spark):
    """A triangle peels in exactly ONE wave; max_waves=1 must succeed
    (the old for/else raised even on exact exhaustion, ADVICE r9)."""
    from akka_graph_db_spark.operators.analytics import onion_layers

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "a bigint, b bigint"
    )
    rows = onion_layers(tri, max_waves=1).collect()
    assert sorted((r.id, r.layer, r.coreness) for r in rows) == [
        (1, 1, 2), (2, 1, 2), (3, 1, 2)
    ]
    path = spark.createDataFrame([(1, 2), (2, 3)], "a bigint, b bigint")
    with pytest.raises(RuntimeError):
        onion_layers(path, max_waves=1)  # genuinely needs 2 waves


def test_importance_scores_keeps_zero_token_docs(spark):
    from akka_graph_db_spark.functions.mixture import importance_scores

    docs = spark.createDataFrame(
        [(1, "alpha beta", "src0"), (2, "alpha", "bg"), (3, "", "bg"),
         (4, "   ", "bg")],
        "doc_id bigint, text string, source string",
    )
    out = {
        r.doc_id: r
        for r in importance_scores(
            docs, target=F.col("source") == "src0"
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    for d in (3, 4):
        assert out[d].n_tokens == 0 and out[d].score == 0
    # bucket totals exclude the NULL placeholders: doc 2's single
    # 'alpha' token scores target-share - background-share of its
    # bucket computed over REAL tokens only (1/2 vs 1/1 -> -500000)
    assert out[2].score == -500000


def test_type_class_flags_wide_decimals():
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_correctness import type_class, _classes_compatible

    assert type_class("decimal(38,6)") == "decwide"
    assert type_class("DECIMAL(19,2)") == "decwide"
    assert type_class("decimal(18,2)") == "dec(2)"
    # wide decimal is unsafe even against itself
    assert not _classes_compatible("decwide", "decwide")
    assert not _classes_compatible("decwide", "float")
    assert _classes_compatible("dec(2)", "float")


# ----------------------------------------------------------- benford
def test_benford_deviation_conforming_vs_uniform(spark):
    from akka_graph_db_spark.functions.profile import (
        BENFORD_PPM,
        benford_deviation,
    )

    # a synthetic Benford-conforming multiset: counts proportional to
    # the ppm table itself -> tvd ~ 0 (only integer-rounding residue)
    rows = []
    i = 0
    for d, p in BENFORD_PPM.items():
        for _ in range(round(p / 1000)):
            rows.append(("ok", d * 100 + (i % 10), i))
            i += 1
    # a uniform-digits group: every first digit equally likely
    for j in range(900):
        rows.append(("uni", (j % 9 + 1) * 1000 + j, 10000 + j))
    df = spark.createDataFrame(rows, "g string, v bigint, id bigint")
    got = {r.g: r for r in benford_deviation(df, "g", "v").collect()}
    assert got["ok"].tvd_ppm < 2000          # rounding residue only
    assert got["uni"].tvd_ppm > 200000       # uniform is far from Benford
    # uniform over-represents the rare high digits most: worst digit 9
    assert got["uni"].worst_digit == 9
    # non-positive rows are excluded from n
    df2 = spark.createDataFrame(
        [("g", 0, 1), ("g", -5, 2), ("g", 123, 3)],
        "g string, v bigint, id bigint",
    )
    assert benford_deviation(df2, "g", "v").collect()[0].n == 1


# ----------------------------------------------------- coverage curve
def test_coverage_curve_greedy_semantics(spark):
    from akka_graph_db_spark.functions.mixture import coverage_curve

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),      # 4 tokens
            (2, "c d e", "s2"),        # 3 tokens, 2 overlap s1
            (3, "x y", "s3"),          # 2 disjoint tokens
        ],
        "doc_id bigint, text string, source string",
    )
    rows = coverage_curve(docs, k=5).collect()
    # greedy: s1 (4 new) -> s3 (2 new) -> s2 (1 new: e) -> stop (covered)
    assert [(r.round, r.source, r.new_tokens, r.covered_total)
            for r in rows] == [
        (1, "s1", 4, 4), (2, "s3", 2, 6), (3, "s2", 1, 7)
    ]
    # monotone diminishing gains is NOT guaranteed in general, but
    # covered_total must be strictly increasing and rounds contiguous
    with pytest.raises(ValueError):
        coverage_curve(docs, k=0)


def test_coverage_curve_shingles_mode(spark):
    from akka_graph_db_spark.functions.mixture import coverage_curve

    docs = spark.createDataFrame(
        [(1, "a b c d", "s1"), (2, "a b", "s2")],
        "doc_id bigint, text string, source string",
    )
    rows = coverage_curve(docs, k=3, shingle_n=3).collect()
    # s1: shingles {a b c, b c d}; s2 short doc -> full-text {a b}
    assert [(r.source, r.new_tokens) for r in rows] == [
        ("s1", 2), ("s2", 1)
    ]


# ---------------------------------------------------------- k-center
def test_kcenter_farthest_first(spark):
    from akka_graph_db_spark.operators.analytics import kcenter_landmarks

    # path 1-2-3-4-5 plus disconnected edge 10-11
    g = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "a bigint, b bigint",
    )
    rows = kcenter_landmarks(g, k=3, max_depth=4).collect()
    # rank1: min id (1); rank2: unreachable component -> dist 5, min id
    # 10; rank3: farthest reachable from {1, 10} is 5 at dist 4
    assert [(r.center_rank, r.id, r.dist) for r in rows] == [
        (1, 1, 0), (2, 10, 5), (3, 5, 4)
    ]
    with pytest.raises(ValueError):
        kcenter_landmarks(g, k=0)


def test_kcenter_radius_shrinks(spark):
    """Adding centers never increases the covering radius — the
    farthest-first invariant (each pick's dist is the CURRENT radius,
    and it is non-increasing in rank)."""
    from akka_graph_db_spark.operators.analytics import kcenter_landmarks

    ring = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)], "a bigint, b bigint"
    )
    rows = kcenter_landmarks(ring, k=4, max_depth=6).collect()
    dists = [r.dist for r in rows][1:]
    assert dists == sorted(dists, reverse=True)


# ------------------------------------------------------------ MMR
def test_mmr_topk_diversifies(spark):
    """Plain top-k would pick the two near-duplicates of the query;
    MMR (on unit-norm vectors = cosine semantics) picks one of them,
    then the orthogonal direction — the twin's marginal gain goes
    negative once its near-copy is selected."""
    from akka_graph_db_spark.functions.similarity import mmr_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),          # the query itself
        (1, [0.9950, 0.0998, 0.0, 0.0]),    # near-dup of q
        (2, [0.9902, 0.1397, 0.0, 0.0]),    # second near-dup (twin of 1)
        (3, [0.7071, 0.7071, 0.0, 0.0]),    # somewhat relevant, diverse
        (4, [0.0, 0.0, 1.0, 0.0]),          # orthogonal
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    out = mmr_topk(
        emb, emb.where(F.col("vec_id") == 0), k=3, lambda_permille=500
    ).collect()
    ids = [r.id for r in out]
    assert ids[0] == 1                      # pure relevance first
    assert ids[1] == 4                      # diversity: orthogonal next
    assert 2 not in ids[:2]                 # redundancy blocks the twin
    # determinism
    out2 = mmr_topk(
        emb, emb.where(F.col("vec_id") == 0), k=3, lambda_permille=500
    ).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in out2]
    with pytest.raises(ValueError):
        mmr_topk(emb, emb.where(F.col("vec_id") <= 1), k=3)
    with pytest.raises(ValueError):
        mmr_topk(emb, emb.where(F.col("vec_id") == 0), k=0)


def test_mmr_lambda_1000_is_pure_relevance(spark):
    from akka_graph_db_spark.functions.similarity import mmr_topk

    rows = [(i, [float(10 - i), 1.0]) for i in range(5)]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    out = mmr_topk(
        emb, emb.where(F.col("vec_id") == 0), k=3, lambda_permille=1000
    ).collect()
    # with lambda=1 the picks are exactly relevance order: ids 1,2,3
    assert [r.id for r in out] == [1, 2, 3]
    assert [r.relevance for r in out] == sorted(
        [r.relevance for r in out], reverse=True
    )


# ----------------------------------------------------------- CUSUM
def test_cusum_finds_planted_shift(spark):
    from datetime import datetime, timedelta

    from akka_graph_db_spark.functions.events import cusum_changepoints

    t0 = datetime(2024, 1, 1)
    rows = []
    # group "shift": 20 values at 1.0, then 20 at 5.0 -> change at k=20
    for i in range(40):
        rows.append(
            (i, t0 + timedelta(minutes=i), 1, "shift",
             1.0 if i < 20 else 5.0)
        )
    # group "flat": constant -> deviation 0 everywhere, earliest k=1
    for i in range(10):
        rows.append(
            (100 + i, t0 + timedelta(minutes=i), 1, "flat", 2.0)
        )
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double"
    )
    got = {r.event_type: r for r in cusum_changepoints(df).collect()}
    assert got["shift"].change_index == 20
    assert got["shift"].n == 40
    # exact statistic: |40*S_20 - 20*S_40| micros
    # S_20 = 20e6, S_40 = 120e6 -> |8e8 - 24e8| = 16e8
    assert got["shift"].deviation == 1_600_000_000
    assert got["flat"].deviation == 0
    assert got["flat"].change_index == 1   # earliest-index tiebreak
