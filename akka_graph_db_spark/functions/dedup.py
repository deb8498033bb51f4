"""Deduplication operators (SURVEY.md §2.9): exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale design: NO all-pairs anywhere. Every near-dup operator first narrows
to candidate pairs through a bucket equi-join (LSH bands / SimHash chunks /
explicit bucket columns), then verifies candidates exactly. The bucket join
shuffles on the band hash — uniformly distributed by construction — and the
verify step touches only candidates, so cost scales with the number of
near-duplicates, not with N².

All hashing is seed-explicit and deterministic across runs/partitions/
cluster sizes (no RNG anywhere). Two MinHash hash families exist: the
expression path uses ``xxhash64`` (JVM-side), the Arrow path uses
blake2b + a splitmix64 permutation family (numpy-vectorized); SimHash and
banding always use ``xxhash64``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from akka_graph_db_spark.functions.text import shingles, tokens


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest id per distinct text. Hash-groupBy on sha2(text) —
    one shuffle keyed by digest, never by the full text bytes."""
    return (
        df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("_h"))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding
# --------------------------------------------------------------------------

_MAX_LONG = (1 << 63) - 1


def minhash_signature(
    text: Column, num_perm: int = 64, shingle_n: int = 3
) -> Column:
    """MinHash signature (array<bigint>, length ``num_perm``) over
    ``shingle_n``-token shingles. Permutation i = xxhash64 seeded by i.

    ONE aggregate pass over the shingles updating all ``num_perm`` mins via
    zip_with — not ``num_perm`` separate array_min scans, which Catalyst's
    projection collapse would otherwise duplicate into every consumer of
    the signature (observed: 16 band hashes x 64 scans re-tokenizing the
    document 1024x)."""
    sh = F.array_distinct(shingles(tokens(text), shingle_n))
    init = F.expr(
        f"array_repeat(cast({_MAX_LONG} as bigint), {num_perm})"
    )
    perms = F.sequence(F.lit(0), F.lit(num_perm - 1))
    return F.aggregate(
        sh,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.transform(perms, lambda i: F.xxhash64(i, s)),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_signatures_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures via an Arrow-batched pandas UDF: blake2b base
    hash per shingle + a splitmix64 permutation family, min-reduced in one
    numpy matrix op per document. 5-10x the interpreted higher-order-
    function expression path (Spark does not codegen HOF lambdas), at the
    cost of the Arrow transfer. Returns (_id BIGINT, _sig ARRAY<BIGINT>,
    _n INT) — ``_n`` equals :func:`_shingle_sets`'s ``_n`` EXACTLY, so
    the size-ratio prefilter and the exact verify count elements of the
    same sets with no cross-family collision caveat (VERDICT r12 #2),
    and size-prefilter consumers need no join against the shingle
    frame. Concretely: for ``shingle_n == 1`` it is the distinct-
    XXHASH64 token count (the verify frame stores
    ``array_distinct(transform(tokens, xxhash64))``), computed with the
    numpy Spark-parity XXH64
    (:func:`~akka_graph_db_spark.functions.hashing.xxhash64_bytes_np`);
    for ``shingle_n > 1`` it is the distinct STRING shingle count (the
    verify frame hashes AFTER array_distinct there, so duplicates from
    a hash collision stay in its array and raw count IS its size).
    Min 1 both ways: the JVM shingle path represents an empty document
    as the [""] singleton.

    Hash family differs from :func:`minhash_signature` (expression path);
    either feeds the SAME banding/verification downstream. Exact
    verification removes all FALSE POSITIVES, so every emitted pair is a
    true near-dup on both paths — but banding false NEGATIVES are
    family-dependent: a pair barely above the threshold (miss probability
    (1-s^r)^b, ~1e-2 at s=0.8 with 64/16) may be found by one family and
    missed by the other. Pin ``arrow=`` explicitly where run-to-run pair
    stability across code versions matters. Tokenization matches
    functions.text.tokens() for ASCII corpora (lowercase, whitespace
    split, empties dropped).
    """

    def _sigs(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        from akka_graph_db_spark.functions.hashing import xxhash64_bytes_np

        mask = np.uint64(0xFFFFFFFFFFFFFFFF)
        seeds = np.array(
            [
                int.from_bytes(
                    hashlib.sha256(f"mh-seed:{i}".encode()).digest()[:8],
                    "big",
                )
                for i in range(num_perm)
            ],
            dtype=np.uint64,
        )

        def splitmix64(x):
            x = (x + np.uint64(0x9E3779B97F4A7C15)) & mask
            x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & mask
            x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & mask
            return x ^ (x >> np.uint64(31))

        empty_sig = [((1 << 63) - 1)] * num_perm
        with np.errstate(over="ignore"):
            for pdf in batches:
                out = []
                ns: list = []
                # shingle_n == 1: flat UTF-8 tokens + per-doc offsets —
                # one vectorized Spark-parity XXH64 pass per batch gives
                # every doc its distinct-HASHED count (== the verify
                # frame's _n; see the docstring)
                flat: list = []
                bounds = [0]
                for text in pdf[text_col]:
                    toks = [t for t in (text or "").lower().split() if t]
                    if shingle_n > 1:
                        if len(toks) >= shingle_n:
                            sh = {
                                " ".join(toks[j : j + shingle_n])
                                for j in range(len(toks) - shingle_n + 1)
                            }
                        else:
                            sh = {" ".join(toks)}
                        ns.append(max(len(sh), 1))
                        enc = [s.encode() for s in sh]
                    else:
                        sh = set(toks)
                        enc = [s.encode() for s in sh]
                        flat.extend(enc)
                        bounds.append(len(flat))
                    if not sh:
                        out.append(empty_sig)
                        continue
                    base = np.fromiter(
                        (
                            int.from_bytes(
                                hashlib.blake2b(e, digest_size=8).digest(),
                                "big",
                            )
                            for e in enc
                        ),
                        dtype=np.uint64,
                        count=len(enc),
                    )
                    m = splitmix64(base[None, :] ^ seeds[:, None]).min(axis=1)
                    out.append(m.astype(np.int64).tolist())
                if shingle_n == 1:
                    xx = xxhash64_bytes_np(flat)
                    ns = [
                        max(
                            len(np.unique(xx[bounds[i]:bounds[i + 1]])), 1
                        )
                        for i in range(len(bounds) - 1)
                    ]
                yield pd.DataFrame(
                    {"_id": pdf[id_col], "_sig": out, "_n": ns}
                )

    return df.select(id_col, text_col).mapInPandas(
        _sigs, schema="_id bigint, _sig array<bigint>, _n int"
    )


def _signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    shingle_n: int,
    arrow: bool,
) -> DataFrame:
    """(_id, _sig, _n) frame, repartitioned + materialized (see class
    note on projection collapse). ``_n`` rides along so the size-ratio
    prefilter never needs a join against the shingle frame: a join there
    poisons the planner's size estimate (a 249 KiB signature checkpoint
    joined to a 194 KiB size frame was estimated at 191 GiB, forcing
    every downstream band join to sort-merge). Both paths define ``_n``
    as EXACTLY :func:`_shingle_sets`'s ``_n`` (the verify frame's set
    size — min 1 via the [""] singleton for empty docs), so the
    prefilter and the verify agree with no collision caveat (VERDICT
    r12 #2)."""
    npart = df.sparkSession.sparkContext.defaultParallelism
    if arrow:
        sigs = minhash_signatures_arrow(
            df.repartition(npart, F.col(id_col)),
            text_col,
            id_col,
            num_perm,
            shingle_n,
        )
    else:
        sh = _hashed_shingles(F.col("_t"), shingle_n)
        sigs = (
            df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
            .repartition(npart, F.col("_id"))
            .select(
                "_id",
                minhash_signature(F.col("_t"), num_perm, shingle_n).alias(
                    "_sig"
                ),
                F.size(sh).alias("_n"),
            )
        )
    return sigs.localCheckpoint(eager=True)


def corpus_sketch(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 1,
    arrow: bool = True,
) -> DataFrame:
    """Materialized per-doc dedup sketch: (_id, _sig, _sh, _n) — the
    MinHash signature plus the hashed shingle set and its cardinality.

    Both artifacts are functions of the TEXT alone, so one sketch serves
    every minhash variant and every keep policy (min_id / max_score /
    source-priority): pass it as the ``sketch=`` argument of
    :func:`minhash_dedup_pairs` / :func:`minhash_dedup_keep` and the
    shingle/signature passes run ONCE per corpus instead of once per
    policy (VERDICT r5 #4: the four keep-family queries each recomputed
    signatures from scratch — ~54s of the r5 bench). At 100 TB this is
    the frame you persist at corpus-build time (bucketed by ``_id``, or
    pre-exploded by band hash for the incremental-ingest join in
    :func:`minhash_dedup_cross`).
    """
    sigs = _signatures(df, text_col, id_col, num_perm, shingle_n, arrow)
    npart = df.sparkSession.sparkContext.defaultParallelism
    sh = _shingle_sets(df, text_col, id_col, shingle_n).repartition(
        npart, F.col("_sid")
    )
    return (
        # the sketch's _n is the shingle frame's (distinct xxhash64
        # count) — drop the signature pass's twin to keep the join
        # unambiguous
        sigs.drop("_n")
        .join(sh.withColumnRenamed("_sid", "_id"), "_id")
        .select(
            "_id",
            # Build parameters ride along as column metadata so sketch
            # consumers can refuse a mismatched sketch (ADVICE r6: a
            # num_perm/shingle_n disagreement silently produced wrong
            # bands/Jaccard instead of an error).
            F.col("_sig").alias(
                "_sig",
                metadata={"num_perm": num_perm, "shingle_n": shingle_n},
            ),
            "_sh",
            "_n",
        )
        .localCheckpoint(eager=True)
    )


def _validate_sketch(
    sketch: DataFrame, num_perm: int, shingle_n: int
) -> None:
    """Refuse a :func:`corpus_sketch` built with different parameters
    (ADVICE r6): a num_perm mismatch makes F.slice produce short/empty
    bands (silently missing pairs) and a shingle_n mismatch answers for
    a different shingling. Sketches without the metadata (hand-built)
    are accepted unchecked — the contract is documented."""
    try:
        meta = sketch.schema["_sig"].metadata or {}
    except KeyError:
        raise ValueError("sketch has no _sig column (not a corpus_sketch)")
    if not meta:
        return
    got = (int(meta.get("num_perm", -1)), int(meta.get("shingle_n", -1)))
    if got != (num_perm, shingle_n):
        raise ValueError(
            f"sketch was built with num_perm={got[0]}, shingle_n={got[1]} "
            f"but the call requested num_perm={num_perm}, "
            f"shingle_n={shingle_n} — rebuild the sketch or pass matching "
            "parameters"
        )


def _sketch_subset(sketch: DataFrame, ids: DataFrame, id_col: str):
    """Restrict a corpus sketch to the given id frame (e.g. the
    exact-dup representatives) — left-semi, no payload duplication."""
    return sketch.join(
        ids.select(F.col(id_col).alias("_id")), "_id", "left_semi"
    )


def _banded_candidates(
    sigs: DataFrame,
    num_perm: int,
    bands: int,
    threshold: float | None = None,
) -> DataFrame:
    """Candidate pairs (a_id < b_id) from a materialized (_id, _sig)
    signature frame — each colliding pair emitted EXACTLY ONCE, at the
    FIRST band where the two signatures agree.

    ``threshold`` (with a ``_n`` column on ``sigs`` — shingle-set
    cardinalities) pushes the deterministically-safe size-ratio
    prefilter (J(A,B) >= t implies min/max >= t — see
    :func:`minhash_dedup_pairs`) into the band-join stage itself:
    candidates that cannot verify are dropped BEFORE the distinct ever
    sees them (measured at sf0.1, shingle_n=1: the filter keeps 3.57M
    of 9.67M candidate pairs, and the distinct's hash maps — the
    pipeline's spill mode — shrink with it), and the post-hoc
    size-prefilter join this replaces disappears. ``_n`` must ride on
    the signature frame itself, NOT be joined in here: a join poisons
    the planner's size estimate (measured: 249 KiB ⋈ 194 KiB estimated
    at 191 GiB), which forces the band join below to sort-merge.

    The planner picks the join strategy from real (checkpoint-origin)
    stats: a band table under the broadcast threshold makes this a
    map-side hash join whose output emission is balanced by the probe
    side's id-derived partitioning (a hot bucket's pairs stream from
    every partition holding a member, never from one key-owner task);
    past the threshold it is a shuffle join and AQE's skew-join
    splitting handles oversized buckets.

    (Two rejected rewrites, both output-identical but slower at sf0.1:
    a per-band statically-unrolled join union — 16 broadcast exchanges
    per plan execution of constant overhead, 36 BHJ total, re-paid by
    every consumer materialization — and a first-matching-band CASE
    filter over the joined stream carrying both band arrays — the
    16-branch CASE over array indexing evaluated at ~23s for the
    ~100M-row stream vs 3.7s for join+distinct; the distinct is NOT the
    bottleneck once the size filter halves its input.)
    """
    r = num_perm // bands
    use_size = threshold is not None and "_n" in sigs.columns
    banded = sigs.select(
        "_id",
        *(["_n"] if use_size else []),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.slice(F.col("_sig"), i * r + 1, r))
                    for i in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    left = banded.select(
        F.col("_id").alias("a_id"),
        *([F.col("_n").alias("_na")] if use_size else []),
        "band_idx",
        "band_hash",
    )
    right = banded.select(
        F.col("_id").alias("b_id"),
        *([F.col("_n").alias("_nb")] if use_size else []),
        "band_idx",
        "band_hash",
    )
    cond = F.col("a_id") < F.col("b_id")
    if use_size:
        cond = cond & (
            (F.least("_na", "_nb") / F.greatest("_na", "_nb"))
            >= F.lit(threshold)
        )
    return (
        left.join(right, ["band_idx", "band_hash"], "inner")
        .where(cond)
        .select("a_id", "b_id")
        .distinct()
    )


def _hashed_shingles(text: Column, shingle_n: int) -> Column:
    """The xxhash64-hashed per-doc shingle array the verify join
    intersects — shared between :func:`_shingle_sets` (which stores it)
    and :func:`_signatures` (whose ``_n`` must be ITS size, so the
    size-ratio prefilter counts elements of the same sets the verify
    measures).

    For ``shingle_n=1`` hashes tokens directly and then dedups the
    longs — same set up to collisions as hashing the string shingles,
    but ~10× cheaper than the generic sequence/slice/concat shingle
    construction (HOF lambdas are interpreted, not codegen'd). The
    empty-doc case keeps the generic path's [""]-singleton semantics.
    """
    tok = tokens(text)
    if shingle_n == 1:
        return F.when(
            F.size(tok) >= 1,
            F.array_distinct(F.transform(tok, lambda s: F.xxhash64(s))),
        ).otherwise(F.array(F.xxhash64(F.concat_ws(" ", tok))))
    return F.transform(
        F.array_distinct(shingles(tok, shingle_n)),
        lambda s: F.xxhash64(s),
    )


def _shingle_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    hashed: bool = True,
) -> DataFrame:
    """(_sid, _sh, _n): distinct shingle set per doc + its cardinality.

    ``hashed=True`` stores xxhash64 of each shingle instead of the string
    (:func:`_hashed_shingles`): set semantics (and so exact Jaccard) are
    preserved up to 64-bit hash collisions (P ≈ |corpus vocab|²/2⁶⁵ —
    ~1e-11 at 100k distinct shingles), while the verify join shuffles
    8-byte longs instead of whole shingle strings and intersects on long
    equality.
    """
    if hashed:
        sh = _hashed_shingles(F.col(text_col), shingle_n)
    else:
        sh = F.array_distinct(shingles(tokens(F.col(text_col)), shingle_n))
    return df.select(
        F.col(id_col).alias("_sid"),
        sh.alias("_sh"),
        F.size(sh).alias("_n"),
    )


def jaccard(a_tokens: Column, b_tokens: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a_tokens, b_tokens))
    union = F.size(a_tokens) + F.size(b_tokens) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(1.0))


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    arrow: bool = True,
    est_margin: float | str | None = None,
    sketch: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs: LSH candidates verified by EXACT shingle-set Jaccard
    ≥ threshold. Returns (a_id, b_id, jaccard_sim).

    ``sketch`` (a :func:`corpus_sketch` frame covering at least ``df``'s
    ids, built with the SAME num_perm/shingle_n) skips the signature and
    shingle passes entirely — the reuse path for pipelines that run
    several dedup variants over one corpus.

    Candidate prefilters run BEFORE the exact-verify intersection
    (VERDICT r2 #4 — at sf0.1 the band join emits 9.7M candidates of which
    only ~10% verify):

    - **size ratio** (always on, deterministically safe): J(A,B) ≥ t
      implies min(|A|,|B|)/max(|A|,|B|) ≥ t, so pairs failing it cannot
      verify. Kills ~63% of the sub-threshold candidates at sf0.1.
    - **signature-estimated Jaccard** (``est_margin``, probabilistically
      safe): matching-position fraction of the already-materialized
      signatures estimates J with sd = sqrt(t(1-t)/num_perm); candidates
      with est < t − est_margin are dropped in integer domain.
      ``"auto"`` = 4 sd (~3e-5 per-pair miss at t=0.9/64 perms; measured
      min est over true pairs at sf0.01/sf0.1 is 0.78-0.80 vs the 0.75
      cutoff). DEFAULT OFF: with hashed shingle sets the verify is cheap
      enough that carrying 512-byte signature arrays through the
      candidate join costs more than it saves (measured sf0.1: 7.0s
      size-only vs 21.3s with est) — enable it for corpora where
      near-dups share their length distribution with non-dups, where the
      size filter stops discriminating.

    The verify join intersects xxhash64-hashed shingle sets (longs, not
    strings — see :func:`_shingle_sets`): exact Jaccard up to 64-bit
    collisions (~1e-11 at corpus scale).
    """
    import math

    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    if sketch is not None:
        _validate_sketch(sketch, num_perm, shingle_n)
        # Materialize the subset ONCE: the banding and both verify sides
        # would otherwise each re-run the semi-join and re-shuffle the
        # _sh arrays — measured 132s vs ~40s for the 3-policy sweep at
        # sf0.1 without this.
        sub = _sketch_subset(sketch, df, id_col).localCheckpoint(
            eager=False
        )
        sigs = sub.select("_id", "_sig", "_n")
        sh = sub.select(F.col("_id").alias("_sid"), "_sh", "_n")
    else:
        sigs = _signatures(df, text_col, id_col, num_perm, shingle_n, arrow)
        # Compute the hashed shingle sets ONCE and materialize: the size
        # prefilter and both verify sides would otherwise each re-scan
        # the source and re-run the tokenize/hash pass (projection
        # collapse re-inlines it). The hashed-set frame is ~num_shingles
        # longs per doc — far smaller than the corpus text — so
        # materializing it is the cheap side of the trade at any scale.
        # Repartition first: a small parquet input may arrive as 1-few
        # partitions while the per-doc work is CPU-bound.
        npart = df.sparkSession.sparkContext.defaultParallelism
        sh = (
            _shingle_sets(df, text_col, id_col, shingle_n)
            .repartition(npart, F.col("_sid"))
            .localCheckpoint(eager=False)
        )
    # Size-ratio prefilter, deterministically safe at the boundary BY
    # CONSTRUCTION: the verify admits fl(|∩|/|∪|) >= t, and |∩|/|∪| <=
    # min/max in the reals, so with correctly-rounded (monotone) double
    # division fl(min/max) >= fl(|∩|/|∪|) — the filter admits a superset
    # of what the verify admits, equality at the threshold included.
    # (The earlier `min >= t*max - 1e-9` form had a real failure mode:
    # t*max can round UP past an integer min even when fl(min/max) == t.)
    # It is pushed INTO the band-join stage (threshold= + the signature
    # frame's own _n column), so non-verifiable candidates are dropped
    # before they are ever materialized.
    cands = _banded_candidates(sigs, num_perm, bands, threshold=threshold)
    use_est = est_margin is not None
    min_match = 0
    if use_est:
        if est_margin == "auto":
            est_margin = 4.0 * math.sqrt(
                threshold * (1.0 - threshold) / num_perm
            )
        # integer-domain compare: keep if matching positions >= ceil(
        # (t - margin) * num_perm) — no float-boundary ambiguity
        min_match = math.ceil((threshold - est_margin) * num_perm)
        use_est = min_match > 0
    if use_est:
        # signature-estimate prefilter (opt-in): one slim join per side
        # over the already-size-filtered candidates.
        slim = sigs.select(F.col("_id").alias("_sid"), "_sig")
        matches = F.aggregate(
            F.zip_with("_siga", "_sigb", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        cands = (
            cands.join(
                slim.select(
                    F.col("_sid").alias("a_id"), F.col("_sig").alias("_siga")
                ),
                "a_id",
            )
            .join(
                slim.select(
                    F.col("_sid").alias("b_id"), F.col("_sig").alias("_sigb")
                ),
                "b_id",
            )
            .where(matches >= F.lit(int(min_match)))
            .select("a_id", "b_id")
        )

    a = sh.select(F.col("_sid").alias("a_id"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col("_sid").alias("b_id"), F.col("_sh").alias("_shb"))
    return (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            jaccard(F.col("_sha"), F.col("_shb")).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )


def minhash_dedup_cross(
    new_df: DataFrame,
    base_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 1,
    arrow: bool = True,
    exclude_same_id: bool = False,
) -> DataFrame:
    """INCREMENTAL near-dup: which NEW documents near-duplicate any
    document of an EXISTING base corpus — the shape every production
    ingest runs (dedupe the day's crawl against the corpus, never the
    corpus against itself again).

    PRECONDITION: the two corpora are id-DISJOINT. If an id can appear
    on both sides (re-ingest of an already-indexed batch), every such
    doc trivially matches itself at jaccard_sim 1.0 — pass
    ``exclude_same_id=True`` to drop the self-pairs in that case (only
    safe when the id spaces genuinely coincide; two corpora that happen
    to reuse numbering would wrongly suppress real cross-corpus dups).

    Same shingle→minhash→band machinery as :func:`minhash_dedup_pairs`,
    but the band join is ASYMMETRIC (new × base on the bucket key, no
    a<b constraint): work scales with the NEW side's bucket collisions,
    not the base size. At 100 TB the base side's (id, band_idx,
    band_hash) frame is exactly what you persist once at corpus-build
    time (a bucketed store table keyed by band_hash makes the join
    exchange-free on the base side); here both sides compute inline.
    Candidates are verified by EXACT hashed-shingle Jaccard with the
    size-ratio prefilter. Returns (new_id, base_id, jaccard_sim).
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands

    def _banded(df: DataFrame, out: str) -> DataFrame:
        sigs = _signatures(df, text_col, id_col, num_perm, shingle_n, arrow)
        return sigs.select(
            F.col("_id").alias(out),
            F.posexplode(
                F.array(
                    *[
                        F.xxhash64(F.slice(F.col("_sig"), i * r + 1, r))
                        for i in range(bands)
                    ]
                )
            ).alias("band_idx", "band_hash"),
        )

    cands = (
        _banded(new_df, "new_id")
        .join(_banded(base_df, "base_id"), ["band_idx", "band_hash"])
        .select("new_id", "base_id")
        .distinct()
    )
    if exclude_same_id:
        cands = cands.where(F.col("new_id") != F.col("base_id"))
    shn = _shingle_sets(new_df, text_col, id_col, shingle_n).select(
        F.col("_sid").alias("new_id"),
        F.col("_sh").alias("_sha"),
        F.col("_n").alias("_na"),
    )
    shb = _shingle_sets(base_df, text_col, id_col, shingle_n).select(
        F.col("_sid").alias("base_id"),
        F.col("_sh").alias("_shb"),
        F.col("_n").alias("_nb"),
    )
    # size-ratio prefilter: J >= t implies min/max >= t (monotone double
    # division — same boundary-safe construction as minhash_dedup_pairs)
    ratio_ok = (
        F.least("_na", "_nb") / F.greatest("_na", "_nb")
    ) >= F.lit(threshold)
    sim = jaccard(F.col("_sha"), F.col("_shb"))
    return (
        cands.join(shn, "new_id")
        .join(shb, "base_id")
        .where(ratio_ok)
        .select("new_id", "base_id", sim.alias("jaccard_sim"))
        .where(F.col("jaccard_sim") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cols: tuple[str, ...] = ("lang", "source"),
    threshold: float = 0.8,
    use_shingles: int | None = None,
) -> DataFrame:
    """EXACT within-bucket n-gram/token Jaccard pairs (a_id < b_id).

    The oracle-checkable exact variant: pairs are bounded by explicit bucket
    columns (lang, source, ...) instead of LSH — use when a natural
    partition exists; use :func:`minhash_dedup_pairs` when it doesn't.
    ``use_shingles=n`` compares n-token shingle sets; default compares
    distinct-token sets.
    """
    tok = tokens(F.col(text_col))
    items = (
        F.array_distinct(shingles(tok, use_shingles))
        if use_shingles
        else F.array_distinct(tok)
    )
    base = df.select(
        F.col(id_col).alias("_id"), *bucket_cols, items.alias("_items")
    )
    a = base.select(
        F.col("_id").alias("a_id"), *bucket_cols, F.col("_items").alias("_ia")
    )
    b = base.select(
        F.col("_id").alias("b_id"), *bucket_cols, F.col("_items").alias("_ib")
    )
    return (
        a.join(b, list(bucket_cols), "inner")
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            jaccard(F.col("_ia"), F.col("_ib")).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )


def _score_key(score_col: str, id_col: str) -> Column:
    """The keep order: highest score, then lowest id (as ``-id``)."""
    return F.struct(
        F.col(score_col).alias("s"), (-F.col(id_col)).alias("nid")
    )


def _near_dup_groups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    num_perm: int,
    bands: int,
    shingle_n: int,
    arrow: bool,
    score_cols: tuple[str, ...] = (),
    sketch: DataFrame | None = None,
) -> DataFrame:
    """The near-dup substrate of the keep family: exact-dup collapse ->
    banded LSH -> exact verify -> connected components. One row per
    distinct text: (_digest, <id_col>, _n, *score_cols, component).

    ``<id_col>`` is the group's min id and represents it in the LSH
    stage; ``_n`` is the group's size; each score column holds the
    group's ``max(struct(score, -id))``; ``component`` is the min-id CC
    label over the representatives. All of them come from the collapse's
    one ``groupBy(sha2)``. Identical texts have identical shingle sets
    and signatures, so Jaccard to any third doc — and hence every
    candidate edge and every component — is a function of the text
    alone: the collapse preserves components while removing the
    quadratic blowup of large exact-dup clusters inside LSH buckets.
    Min, sum and lexicographic max are associative, so a per-component
    min id, size or argmax over groups equals the same reduction over
    all members, for any score column, text-derived or not.
    """
    from akka_graph_db_spark.operators.analytics import (
        connected_components_from_pairs,
    )

    # localCheckpoint so the collapse shuffle isn't re-run by the pair
    # stage's second source scan (projection collapse would otherwise
    # re-inline it).
    groups = (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("_digest"))
        .agg(
            F.min(
                F.struct(
                    F.col(id_col).alias(id_col),
                    F.col(text_col).alias(text_col),
                )
            ).alias("_r"),
            F.count(F.lit(1)).alias("_n"),
            *[F.max(_score_key(c, id_col)).alias(c) for c in score_cols],
        )
        .select("_digest", f"_r.{id_col}", f"_r.{text_col}", "_n",
                *score_cols)
        .localCheckpoint(eager=False)
    )
    verified = minhash_dedup_pairs(
        groups.select(id_col, text_col), text_col, id_col, threshold,
        num_perm, bands, shingle_n, arrow, sketch=sketch,
    ).select(F.col("a_id").alias("a"), F.col("b_id").alias("b"))
    comp = connected_components_from_pairs(
        groups.select(F.col(id_col).alias("id")), verified
    )
    return groups.drop(text_col).join(
        comp.select(F.col("id").alias(id_col), "component"), id_col
    )


def _keep_survivors(
    groups: DataFrame, id_col: str, score_col: str | None
) -> DataFrame:
    """One survivor per component: the min id, or (``score_col`` set,
    holding a :func:`_score_key` struct) the argmax score with min-id
    ties — one aggregation, no window."""
    by_comp = groups.groupBy("component")
    if score_col is None:
        return by_comp.agg(F.min(id_col).alias(id_col)).select(id_col)
    return by_comp.agg(F.max(score_col).alias("_b")).select(
        (-F.col("_b.nid")).alias(id_col)
    )


def minhash_dedup_keep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 1,
    arrow: bool = True,
    linkage: str = "pairs",
    keep: str = "min_id",
    score_col: str | None = None,
    sketch: DataFrame | None = None,
) -> DataFrame:
    """Near-dup dedup: one kept representative per near-dup cluster —
    returns (doc_id) of survivors.

    ``sketch`` (:func:`corpus_sketch` over ``df`` with the same
    num_perm/shingle_n) reuses precomputed signatures + shingle sets —
    signatures are keep-policy-INDEPENDENT (functions of the text
    alone), so one sketch serves min_id, max_score, and source-priority
    runs over the same corpus.

    ``keep`` selects the representative: ``"min_id"`` (default) or
    ``"max_score"`` — the member with the highest ``score_col`` value
    (min id on ties), e.g. ``score_col="n_chars"`` keeps the most
    complete version of a near-dup family, the usual curation choice.

    Two linkage strategies over the LSH candidate graph:

    - ``linkage="pairs"`` (default): connected components over ALL
      exact-verified same-bucket pairs (:func:`minhash_dedup_pairs`).
      EXACT single-linkage w.r.t. the candidate set — when LSH recall is
      100% this equals components over the true near-dup graph, which is
      what the DuckDB closure oracle checks. Runs on
      :func:`_near_dup_groups`: exact duplicates are collapsed to their
      group's min id before LSH, and each group carries its own argmax
      (score, -id), so the per-component min id or argmax over groups is
      the survivor over all members, for any score column.
    - ``linkage="star"``: each band bucket contributes only STAR edges
      (bucket-min ↔ member): O(docs × bands) candidates, independent of
      cluster size — the adversarial-scale path (a 1 400-doc duplicate
      cluster emits ~1M pairs under "pairs" but only ~22k star edges).
      APPROXIMATE: a same-bucket true pair (m1, m2) is lost when neither
      verifies against the bucket rep, so star components can be finer
      than the exact ones (r2 measured 291 vs 257 survivors at sf0.001).
    """
    from akka_graph_db_spark.operators.analytics import (
        connected_components_from_pairs,
    )

    if keep not in ("min_id", "max_score"):
        raise ValueError(f"unknown keep: {keep!r}")
    if keep == "max_score" and not score_col:
        raise ValueError("keep='max_score' requires score_col")
    if sketch is not None:
        _validate_sketch(sketch, num_perm, shingle_n)
    key = score_col if keep == "max_score" else None

    if linkage == "pairs":
        groups = _near_dup_groups(
            df, text_col, id_col, threshold, num_perm, bands, shingle_n,
            arrow, score_cols=(key,) if key else (), sketch=sketch,
        )
        return _keep_survivors(groups, id_col, key)
    if linkage != "star":
        raise ValueError(f"unknown linkage: {linkage!r}")
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands
    base = (
        _sketch_subset(sketch, df, id_col)
        .select("_id", "_sig")
        .localCheckpoint(eager=False)
        if sketch is not None
        else _signatures(df, text_col, id_col, num_perm, shingle_n, arrow)
    )
    banded = base.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.slice(F.col("_sig"), i * r + 1, r))
                    for i in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    reps = banded.groupBy("band_idx", "band_hash").agg(
        F.min("_id").alias("a")
    )
    star = (
        banded.join(reps, ["band_idx", "band_hash"], "inner")
        .where(F.col("_id") != F.col("a"))
        .select("a", F.col("_id").alias("b"))
        .distinct()
    )
    # Hashed shingle sets (longs, small payload — see _shingle_sets),
    # computed once and materialized for the two verify sides.
    if sketch is not None:
        sh = (
            _sketch_subset(sketch, df, id_col)
            .select(F.col("_id").alias("_sid"), "_sh", "_n")
            .localCheckpoint(eager=False)
        )
    else:
        npart2 = df.sparkSession.sparkContext.defaultParallelism
        sh = (
            _shingle_sets(df, text_col, id_col, shingle_n)
            .repartition(npart2, F.col("_sid"))
            .localCheckpoint(eager=False)
        )
    sa = sh.select(F.col("_sid").alias("a"), F.col("_sh").alias("_sha"))
    sb = sh.select(F.col("_sid").alias("b"), F.col("_sh").alias("_shb"))
    verified = (
        star.join(sa, "a")
        .join(sb, "b")
        .where(jaccard(F.col("_sha"), F.col("_shb")) >= threshold)
        .select("a", "b")
    )
    comp = connected_components_from_pairs(
        base.select(F.col("_id").alias("id")), verified
    ).select(F.col("id").alias(id_col), "component")
    if key:
        comp = comp.join(
            df.select(id_col, _score_key(key, id_col).alias(key)), id_col
        )
    return _keep_survivors(comp, id_col, key)


def minhash_dedup_keep_multi(
    df: DataFrame,
    policies: "dict[str, str | None]",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 1,
    arrow: bool = True,
) -> DataFrame:
    """Every keep policy from ONE clustering. The near-dup graph is a
    function of the TEXTS alone — signatures, candidate edges, and exact
    Jaccard never read ids or scores — so :func:`_near_dup_groups`
    (collapse, band join, verify, connected components) runs once,
    carrying every policy's per-group argmax, and each policy is then
    one per-component reduction over the checkpointed groups. Survivor
    sets equal running ``minhash_dedup_keep(linkage="pairs")`` once per
    policy (pytest-pinned).

    ``policies`` maps a policy name to its score column (``None`` =
    min-id keep; a column name = max-score keep with min-id ties).
    Returns (policy, doc_id) survivors.
    """
    if not policies:
        raise ValueError("policies must be non-empty")
    score_cols = tuple(
        sorted({c for c in policies.values() if c is not None})
    )
    groups = _near_dup_groups(
        df, text_col, id_col, threshold, num_perm, bands, shingle_n, arrow,
        score_cols=score_cols,
    ).localCheckpoint(eager=False)  # one shuffle, N policy consumers
    parts = [
        _keep_survivors(groups, id_col, policies[name]).select(
            F.lit(name).alias("policy"), id_col
        )
        for name in sorted(policies)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(
    text: Column, n_bits: int = 64, hash_family: str = "xxhash64"
) -> Column:
    """SimHash of the token multiset: bit i of the result is the sign of the
    per-bit vote sum over token hashes. Deterministic pure expressions —
    and a SINGLE aggregate pass updating all ``n_bits`` vote counters via
    zip_with (not n_bits separate scans; see minhash_signature note).

    Tokens are hashed ONCE into an array before the vote fold (not per bit).
    ``hash_family="md5"`` makes the hash DuckDB-reproducible
    (``hashing.md5_64`` == ``md5_number_upper``), enabling an exact
    all-pairs SQL oracle; the default stays xxhash64 for hot paths.
    """
    from akka_graph_db_spark.functions.hashing import token_hash

    tok_hashes = F.transform(
        tokens(text), lambda t: token_hash(t, hash_family)
    )
    # literal bit-mask array (bit 63 = sign bit in two's complement)
    pows = F.array(
        *[
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("bigint")
            for i in range(n_bits)
        ]
    )
    votes = F.aggregate(
        tok_hashes,
        F.expr(f"array_repeat(0, {n_bits})"),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                pows,
                lambda p: F.when(
                    h.bitwiseAND(p) != 0, F.lit(1)
                ).otherwise(F.lit(-1)),
            ),
            lambda a, b: a + b,
        ),
    )
    # fold votes -> 64-bit word: OR of the masks whose vote is positive
    bits = F.zip_with(
        votes,
        pows,
        lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(
        bits, F.lit(0).cast("bigint"), lambda acc, b: acc.bitwiseOR(b)
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bits: int = 64,
    n_chunks: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: chunk-bucket join (pigeonhole — any pair
    within ``max_hamming`` ≤ n_chunks-1 bit flips shares ≥1 identical
    chunk), then exact Hamming verify. Returns (a_id, b_id, hamming)."""
    if n_bits % n_chunks != 0:
        raise ValueError("n_bits must be divisible by n_chunks")
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"pigeonhole completeness requires max_hamming <= n_chunks-1 "
            f"({max_hamming} > {n_chunks - 1}); raise n_chunks"
        )
    chunk_bits = n_bits // n_chunks
    mask = (1 << chunk_bits) - 1
    npart = df.sparkSession.sparkContext.defaultParallelism
    # materialize: the simhash feeds n_chunks bucket keys + both join sides
    sh = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
        .repartition(npart, F.col("_id"))
        .select(
            "_id", simhash(F.col("_t"), n_bits, hash_family).alias("_sim")
        )
        .localCheckpoint(eager=True)
    )
    chunks = sh.select(
        "_id",
        "_sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("_sim"), i * chunk_bits).bitwiseAND(
                        F.lit(mask)
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    a = chunks.select(
        F.col("_id").alias("a_id"),
        F.col("_sim").alias("_sima"),
        "chunk_idx",
        "chunk_val",
    )
    b = chunks.select(
        F.col("_id").alias("b_id"),
        F.col("_sim").alias("_simb"),
        "chunk_idx",
        "chunk_val",
    )
    return (
        a.join(b, ["chunk_idx", "chunk_val"], "inner")
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            hamming64(F.col("_sima"), F.col("_simb")).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (delegates bucketing to similarity.lsh)
# --------------------------------------------------------------------------

def embedding_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    planes: int = 12,
) -> DataFrame:
    """Near-identical embedding pairs: random-hyperplane LSH bucket join +
    exact cosine ≥ threshold. Returns (a_id, b_id, cosine_sim)."""
    from akka_graph_db_spark.functions.similarity import (
        cosine,
        hyperplane_signature,
        infer_dim,
        unit_vector,
    )

    dim = infer_dim(df, vec_col)
    base = df.select(
        F.col(id_col).alias("_id"),
        unit_vector(F.col(vec_col)).alias("_u"),
    ).withColumn("_sig", hyperplane_signature(F.col("_u"), planes, dim))
    a = base.select(
        F.col("_id").alias("a_id"), F.col("_u").alias("_ua"), "_sig"
    )
    b = base.select(
        F.col("_id").alias("b_id"), F.col("_u").alias("_ub"), "_sig"
    )
    return (
        a.join(b, "_sig", "inner")
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            cosine(F.col("_ua"), F.col("_ub"), assume_unit=True).alias(
                "cosine_sim"
            ),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


# --------------------------------------------------------------------------
# Exact substring (word-span) dedup — ExactSubstr family
# --------------------------------------------------------------------------

def exact_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-span removal: delete every occurrence of any word
    ``ngram_n``-gram that appears in >= ``min_docs`` DISTINCT documents
    (the boilerplate-removal variant of Lee et al. 2022's ExactSubstr
    dedup, word-granular instead of suffix-array-byte-granular).

    Returns one row per input document:
    ``(doc_id, n_words, n_dup_words, clean_text)`` where ``clean_text``
    is the document with every word position covered by a duplicated
    n-gram removed and the surviving words re-joined with single spaces.
    Documents shorter than ``ngram_n`` words are never flagged.

    Scale shape (no all-pairs, nothing quadratic):
    1. one map-side pass explodes each doc into (start, gram-hash) pairs
       — grams are 64-bit ``md5_64`` digests the moment they leave the
       doc, so the count shuffle moves 8-byte keys, not n-word strings;
    2. one hash-count shuffle finds digests hitting >= ``min_docs`` docs
       (the duplicated-span set is tiny next to the corpus — it
       broadcast-joins back against the gram stream);
    3. covered word positions are collect_set-aggregated per doc (bounded
       by doc length) and the cleanup is a pure expression over the
       original words array — the full corpus is never re-shuffled by
       word.

    The reference has no text operators at all (SURVEY.md §2.7); this is
    §2.9 LLM-pipeline extension surface.
    """
    from akka_graph_db_spark.functions.hashing import md5_64

    n = int(ngram_n)
    if n < 2:
        raise ValueError(f"ngram_n must be >= 2, got {ngram_n}")
    words = F.split(F.col(text_col), " ")
    docs = df.select(F.col(id_col).alias("_id"), words.alias("_w"))
    # (doc, start, gram-digest) stream; empty array when the doc is short
    # (sequence(1, 0) would count DOWN, hence the explicit guard).
    starts = F.when(
        F.size("_w") >= n,
        F.sequence(F.lit(1), F.size("_w") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    grams = docs.select(
        "_id", "_w", F.explode(starts).alias("_start")
    ).select(
        "_id",
        "_start",
        md5_64(F.array_join(F.slice("_w", F.col("_start"), n), " ")).alias(
            "_gh"
        ),
    )
    dup = (
        grams.groupBy("_gh")
        .agg(F.count_distinct("_id").alias("_nd"))
        .where(F.col("_nd") >= int(min_docs))
        .select("_gh")
    )
    covered = (
        grams.join(dup, "_gh", "left_semi")
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("_start"), F.col("_start") + (n - 1))
            ).alias("_pos"),
        )
        .groupBy("_id")
        .agg(F.collect_set("_pos").alias("_cov"))
    )
    cov = F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    cleaned = F.array_join(
        F.filter(
            F.transform(
                F.col("_w"),
                lambda w, i: F.when(
                    F.array_contains(cov, i + F.lit(1)), F.lit(None)
                ).otherwise(w),
            ),
            lambda w: w.isNotNull(),
        ),
        " ",
    )
    return (
        docs.join(covered, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.size("_w").cast("long").alias("n_words"),
            F.coalesce(F.size("_cov"), F.lit(0))
            .cast("long")
            .alias("n_dup_words"),
            cleaned.alias("clean_text"),
        )
    )


# --------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin family)
# --------------------------------------------------------------------------

def set_similarity_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT all-pairs Jaccard >= threshold join via prefix filtering
    (the PPJoin family, Xiao et al. WWW'08) — the deterministic-recall
    alternative to MinHash LSH: no banding misses, every qualifying
    pair is found, with candidate volume bounded by RARE-token postings
    instead of hash buckets. Returns (a_id, b_id, jaccard_sim).

    The filter: order each doc's shingle set by GLOBAL frequency
    ascending (ties by shingle hash — any consistent total order
    works); if J(A,B) >= t then A and B must share an element within
    their PREFIXES of length |S| - ceil(t*|S|) + 1 (else even perfect
    overlap of the remaining suffixes leaves the intersection below
    t/(1+t)*(|A|+|B|)). Candidates therefore come from a self-equi-join
    of the exploded PREFIX postings — the frequency ordering pushes
    prefixes toward rare shingles, whose posting lists are short, so
    the join output is far below the share-ANY-token join an oracle
    uses. ceil(t*n) is computed in INTEGER permille arithmetic
    ((tm*n + 999) div 1000) — a float ceil(0.8*5) = ceil(4.0000000004)
    = 5 would SHORTEN the prefix and silently drop pairs.

    Verification is the same exact hashed-shingle-set Jaccard as
    :func:`minhash_dedup_pairs` (size-ratio prefilter first), so
    equality at the threshold is boundary-safe. 100 TB shape: one
    frequency aggregation, one per-doc sort (degree-bounded arrays),
    one equi-join on prefix shingles, no all-pairs step anywhere.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # FLOOR, never round: a permille that rounded UP (e.g. t=0.8006 ->
    # 801) would SHORTEN the prefix below the lossless length and
    # silently drop qualifying pairs. Flooring can only lengthen the
    # prefix (extra candidates), and the exact verify filters with the
    # original float threshold.
    tm = int(threshold * 1000)
    npart = df.sparkSession.sparkContext.defaultParallelism
    sh = (
        _shingle_sets(df, text_col, id_col, shingle_n)
        .repartition(npart, F.col("_sid"))
        .localCheckpoint(eager=False)
    )
    # global shingle frequencies -> (freq, shingle) sort key; the pack
    # freq*2^64+shingle is not needed — sort a struct instead
    freq = (
        sh.select(F.explode("_sh").alias("_e"))
        .groupBy("_e")
        .agg(F.count(F.lit(1)).alias("_f"))
    )
    prefix_len = F.expr(f"CAST(_n - (({tm} * _n + 999) DIV 1000) + 1 AS INT)")
    prefixes = (
        sh.select(F.col("_sid"), F.explode("_sh").alias("_e"), "_n")
        .join(freq, "_e")
        .groupBy("_sid", "_n")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(_f, _e))),"
                " s -> s._e)"
            ).alias("_ordered")
        )
        .select(
            "_sid",
            F.explode(F.slice(F.col("_ordered"), 1, prefix_len)).alias(
                "_p"
            ),
        )
    )
    cand = (
        prefixes.select(F.col("_sid").alias("a_id"), "_p")
        .join(prefixes.select(F.col("_sid").alias("b_id"), "_p"), "_p")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    sizes_a = sh.select(F.col("_sid").alias("a_id"), F.col("_n").alias("_na"))
    sizes_b = sh.select(F.col("_sid").alias("b_id"), F.col("_n").alias("_nb"))
    cand = (
        cand.join(sizes_a, "a_id")
        .join(sizes_b, "b_id")
        .where(
            (F.least("_na", "_nb") / F.greatest("_na", "_nb"))
            >= F.lit(threshold)
        )
        .select("a_id", "b_id")
    )
    a = sh.select(F.col("_sid").alias("a_id"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col("_sid").alias("b_id"), F.col("_sh").alias("_shb"))
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            jaccard(F.col("_sha"), F.col("_shb")).alias("jaccard_sim"),
        )
        .where(F.col("jaccard_sim") >= threshold)
    )


def containment_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    shingle_n: int = 1,
    max_posting: int | None = None,
) -> DataFrame:
    """EXACT directed containment join: every ordered pair (a, b), a ≠ b,
    with C(a→b) = |Sₐ∩S_b| / |Sₐ| >= threshold — "a is (nearly) contained
    in b". The asymmetric dedup mode Jaccard misses: a short document
    quoted whole inside a much longer one has containment 1.0 but
    Jaccard |Sₐ|/|S_b| ≈ 0, so neither MinHash-LSH (which estimates
    Jaccard) nor :func:`set_similarity_join` can find it. Returns
    integer-exact (a_id, b_id, n_a, n_b, n_common) — callers derive
    containment as n_common / n_a.

    Candidate generation is the prefix-filter adapted to containment:
    if |Sₐ∩S_b| >= ceil(t·|Sₐ|) then Sₐ's rarest
    |Sₐ| - ceil(t·|Sₐ|) + 1 shingles (global-frequency-ascending order)
    cannot ALL miss S_b — so candidates come from an equi-join of a's
    PREFIX postings against the FULL shingle index. Unlike the Jaccard
    prefix filter, the index side cannot be prefix-truncated (b only
    needs to contain a's shingles anywhere), so candidate volume is
    Σ_{e ∈ prefix(a)} freq(e): bounded by construction because the
    frequency-ascending order fills prefixes with the RAREST shingles.
    ceil is computed in integer permille arithmetic ((tm·n + 999) DIV
    1000) with tm = floor(t·1000): flooring can only LENGTHEN the
    prefix (extra candidates, never a miss) and the exact verify
    re-filters with the original float threshold. A size prefilter
    (|S_b| >= ceil(t·|Sₐ|)) prunes impossible pairs before the verify
    join ships any shingle arrays.

    ``max_posting`` is the LOSSY scale knob: drop index postings longer
    than the cap (stop-shingles) before the candidate join. Pairs whose
    ONLY shared prefix shingles are stop-shingles are then missed —
    leave None (default, exact) unless the corpus has degenerate
    all-stopword documents. 100 TB shape: one frequency aggregation,
    one per-doc sort of degree-bounded arrays, one prefix×index
    equi-join, no all-pairs or cross join anywhere.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    tm = int(threshold * 1000)
    npart = df.sparkSession.sparkContext.defaultParallelism
    sh = (
        _shingle_sets(df, text_col, id_col, shingle_n)
        .repartition(npart, F.col("_sid"))
        .localCheckpoint(eager=False)
    )
    freq = (
        sh.select(F.explode("_sh").alias("_e"))
        .groupBy("_e")
        .agg(F.count(F.lit(1)).alias("_f"))
    )
    # ceil(t*n) >= 1 always (tm > 0, _n >= 1), so prefix_len <= _n
    need = f"(({tm} * _n + 999) DIV 1000)"
    prefix_len = F.expr(f"CAST(_n - {need} + 1 AS INT)")
    prefixes = (
        sh.select(F.col("_sid"), F.explode("_sh").alias("_e"), "_n")
        .join(freq, "_e")
        .groupBy("_sid", "_n")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(_f, _e))),"
                " s -> s._e)"
            ).alias("_ordered")
        )
        .select(
            "_sid",
            F.explode(F.slice(F.col("_ordered"), 1, prefix_len)).alias("_p"),
        )
    )
    idx = sh.select(F.col("_sid").alias("b_id"), F.explode("_sh").alias("_e"))
    if max_posting is not None:
        idx = idx.join(
            freq.where(F.col("_f") <= max_posting).select("_e"), "_e"
        )
    cand = (
        prefixes.select(F.col("_sid").alias("a_id"), "_p")
        .join(idx, prefixes["_p"] == idx["_e"])
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    sizes_a = sh.select(F.col("_sid").alias("a_id"), F.col("_n").alias("_na"))
    sizes_b = sh.select(F.col("_sid").alias("b_id"), F.col("_n").alias("_nb"))
    cand = (
        cand.join(sizes_a, "a_id")
        .join(sizes_b, "b_id")
        .where(F.expr(f"_nb >= (({tm} * _na + 999) DIV 1000)"))
        .select("a_id", "b_id")
    )
    a = sh.select(F.col("_sid").alias("a_id"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col("_sid").alias("b_id"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            F.size("_sha").alias("n_a"),
            F.size("_shb").alias("n_b"),
            inter.alias("n_common"),
        )
        .where(F.col("n_common") / F.col("n_a") >= F.lit(threshold))
    )


def containment_prune(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    shingle_n: int = 1,
) -> DataFrame:
    """Subset pruning: drop every document that is >= threshold contained
    in a DOMINATING document — one with a strictly larger shingle set, or
    an equal-size set with a smaller id (the deterministic tiebreak that
    keeps exactly one of two mutually-containing equals). The actionable
    form of :func:`containment_join`: quotes, excerpts, and boilerplate
    subsets vanish while the maximal documents survive.

    One-shot dominance, not greedy iteration: a is removed if ANY other
    document dominates it, whether or not that document is itself
    removed (a ⊆ b ⊆ c removes both a and b). Order-free, so the result
    is unique and oracle-reproducible. Cost is the containment join plus
    one anti-join — no new shuffle family.
    """
    pairs = containment_join(
        df, text_col=text_col, id_col=id_col,
        threshold=threshold, shingle_n=shingle_n,
    )
    dominated = (
        pairs.where(
            (F.col("n_b") > F.col("n_a"))
            | ((F.col("n_b") == F.col("n_a"))
               & (F.col("b_id") < F.col("a_id")))
        )
        .select(F.col("a_id").alias("_dom"))
        .distinct()
    )
    return df.join(
        dominated, df[id_col] == dominated["_dom"], "left_anti"
    )


def dedup_recall_eval(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 1,
    sample_k: int = 1500,
    grid: int = 32,
    arrow: bool = True,
) -> DataFrame:
    """Measured (not modeled) LSH recall: on a deterministic sample of
    ``sample_k`` docs, compare the banded-MinHash pipeline's verified
    pair set against the EXACT all-pairs truth at the same threshold —
    one row (n_docs, true_pairs, lsh_pairs, missed_pairs,
    recall_permille). The "measure, don't guess" audit for the dedup
    family: band/row settings are chosen from the (1-(1-s^r)^b) curve,
    and this op checks the curve against the corpus before a full run
    commits to them.

    Deterministic: the sample is the ``sample_k`` globally smallest
    ``md5_63(id)`` hashes (engine-reproducible, stable across corpus
    growth), so the whole report is exact integers.

    Scale shape: truth needs all C(k,2) pairs ON THE SAMPLE ONLY —
    realized as a ``grid²``-cell block-nested equi-join (side A
    replicates each doc to its bucket row-block, side B to the column
    block; every pair meets in exactly one cell), NOT a cartesian: the
    shuffle key is the cell id, so the n²/grid² work per cell spreads
    across the cluster like any other join. Sample cost is k²/2 exact
    Jaccards — independent of corpus size; the LSH leg runs the real
    candidate pipeline on the same sample.
    """
    from akka_graph_db_spark.functions.hashing import md5_63

    sample = (
        df.select(F.col(id_col), F.col(text_col))
        .orderBy(md5_63(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_k)
        .localCheckpoint(eager=False)
    )
    # hashed shingle sets computed ONCE (checkpoint: both grid sides +
    # the LSH leg would otherwise re-run the tokenize pass)
    sh = _shingle_sets(
        sample, text_col, id_col, shingle_n
    ).localCheckpoint(eager=False)
    bucket = F.pmod(md5_63(F.col("_sid").cast("string")), F.lit(grid))
    a_side = sh.select(
        F.col("_sid").alias("a_id"),
        F.col("_sh").alias("_sha"),
        F.col("_n").alias("_na"),
        bucket.alias("_i"),
        F.explode(
            F.sequence(F.lit(0), F.lit(grid - 1))
        ).alias("_j"),
    )
    b_side = sh.select(
        F.col("_sid").alias("b_id"),
        F.col("_sh").alias("_shb"),
        F.col("_n").alias("_nb"),
        F.explode(
            F.sequence(F.lit(0), F.lit(grid - 1))
        ).alias("_i"),
        bucket.alias("_j"),
    )
    # Size-ratio prefilter INSIDE the grid join (VERDICT r12 next-round
    # #4, same boundary-safe construction as minhash_dedup_pairs):
    # J(A,B) ≥ t ⟹ min(|A|,|B|)/max ≥ t with correctly-rounded double
    # division, and _n here is the SIZE OF THE VERY ARRAYS the verify
    # intersects (the _shingle_sets frame), so the filter admits a
    # superset of what the exact-Jaccard predicate admits — truth-pair
    # output is byte-identical while the k²/2 array intersections
    # shrink to the size-compatible pairs.
    true_pairs = (
        a_side.join(b_side, ["_i", "_j"])
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (
                (F.least("_na", "_nb") / F.greatest("_na", "_nb"))
                >= F.lit(threshold)
            )
        )
        .where(jaccard(F.col("_sha"), F.col("_shb")) >= threshold)
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    # checkpoint: consumed by both the count and the anti-join
    lsh_pairs = (
        minhash_dedup_pairs(
            sample, text_col, id_col, threshold, num_perm, bands,
            shingle_n, arrow,
        )
        .select("a_id", "b_id")
        .localCheckpoint(eager=False)
    )
    missed = true_pairs.join(
        lsh_pairs, ["a_id", "b_id"], "left_anti"
    )
    # one tagged union -> one 1-row aggregate: no scalar cross-joins
    tagged = (
        sample.select(F.lit("doc").alias("_t"))
        .unionByName(true_pairs.select(F.lit("true").alias("_t")))
        .unionByName(lsh_pairs.select(F.lit("lsh").alias("_t")))
        .unionByName(missed.select(F.lit("miss").alias("_t")))
    )
    return tagged.agg(
        F.sum(F.when(F.col("_t") == "doc", 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs"),
        F.sum(F.when(F.col("_t") == "true", 1).otherwise(0))
        .cast("bigint")
        .alias("true_pairs"),
        F.sum(F.when(F.col("_t") == "lsh", 1).otherwise(0))
        .cast("bigint")
        .alias("lsh_pairs"),
        F.sum(F.when(F.col("_t") == "miss", 1).otherwise(0))
        .cast("bigint")
        .alias("missed_pairs"),
    ).select(
        "*",
        F.when(
            F.col("true_pairs") > 0,
            F.expr(
                "(true_pairs - missed_pairs) * 1000 div true_pairs"
            ),
        )
        .otherwise(F.lit(1000))
        .cast("int")
        .alias("recall_permille"),
    )


def dedup_cluster_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 1,
    arrow: bool = True,
) -> DataFrame:
    """Near-dup cluster size distribution — the audit every dedup run
    ships with: (cluster_size, n_clusters, n_docs) per distinct size,
    where a cluster is one connected component of the exact-verified
    near-dup graph (singletons included: size 1 = unique docs). Sum of
    n_docs is the corpus; sum of n_clusters is the post-dedup corpus —
    the size histogram is what tells you whether removal is dominated
    by a few mega-clusters (boilerplate) or a long tail (mirrors).

    A reduction over the keep family's :func:`_near_dup_groups`: a
    cluster's size is the sum of its exact-dup groups' sizes, then one
    histogram aggregation. The entry-registry `dup_cluster_histogram`
    computes the same histogram WITHOUT the collapse (CC over all docs
    and all verified pairs) — correct, but a d-copy exact-dup cluster
    contributes C(d,2) verified pairs there vs one representative
    here; this is the adversarial-scale route, kept benchmarked side
    by side with the direct one.
    """
    sizes = _near_dup_groups(
        df, text_col, id_col, threshold, num_perm, bands, shingle_n, arrow
    ).groupBy("component").agg(F.sum("_n").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
        )
    )


def dedup_manifest(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 1,
    arrow: bool = True,
) -> DataFrame:
    """Removal manifest under the min-id keep policy: one
    (survivor_id, removed_id) row per REMOVED doc — the reproducibility
    artifact a curation run ships alongside the deduped corpus ("which
    kept doc displaced this one"), and the reverse index takedown /
    lineage requests need. Exactly the complement of
    :func:`minhash_dedup_keep`'s survivor set: every doc appears as
    either a survivor there or a removed_id here.

    The survivor of a cluster is its minimum id, which is also the
    component id itself (the component label from min-id propagation IS
    the global minimum member), so the manifest is a filter on the
    (doc -> component) map — no second aggregation. It is the one
    reduction of :func:`_near_dup_groups` that needs every member: one
    digest join maps each doc to its group's component.
    """
    groups = _near_dup_groups(
        df, text_col, id_col, threshold, num_perm, bands, shingle_n, arrow
    )
    return (
        df.select(
            F.col(id_col).alias("removed_id"),
            F.sha2(F.col(text_col), 256).alias("_digest"),
        )
        .join(groups.select("_digest", "component"), "_digest")
        .where(F.col("removed_id") != F.col("component"))
        .select(F.col("component").alias("survivor_id"), "removed_id")
    )


def embedding_decontamination(
    train: DataFrame,
    eval_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    planes: int = 8,
    bands: int = 6,
) -> DataFrame:
    """Cross-set SEMANTIC decontamination: eval vectors whose cosine
    similarity to any TRAIN vector reaches ``threshold`` — the
    embedding-space complement of n-gram decontamination
    (``decontam.contamination_report``), which paraphrased benchmark
    leakage slips past. Returns (eval_id, train_id, cosine_sim), one
    row per leaked (eval, train) pair.

    Candidate generation is ``bands`` INDEPENDENT hyperplane-LSH
    signatures of ``planes`` planes each, OR'd (a pair is a candidate
    if it collides in ANY band) — the recall-amplified form of
    :func:`embedding_dedup_pairs`'s single band. For a pair at cosine
    θ the per-plane agreement is s = 1 − acos(θ)/π, so recall is
    1 − (1 − s^planes)^bands: at the default planes=8/bands=6 that is
    ≈ 0.96 at θ = 0.95 (vs ≈ 0.28 for the old single 12-plane band —
    under-detection is the dangerous direction for a decontamination
    tool; ADVICE r9), and exactly 1.0 for exact/near-exact copies,
    which agree on every plane of every band. The exact cosine verify
    gives precision; raise ``bands`` (or lower ``planes``) to push
    recall further at the cost of more candidates per eval vector.

    Asymmetric shape for scale: the EVAL side is benchmark-sized and
    broadcast (bands× exploded, still tiny), so the train corpus
    streams through ONE scan with no shuffle regardless of corpus
    size. Each candidate pair is emitted exactly once — kept only in
    the FIRST band where it collides (no earlier-band agreement), a
    pure array predicate on the carried signature arrays, so no
    dedup shuffle is needed after the join.

    The bands×planes projections are ONE numpy matmul per Arrow batch
    (mapInPandas, the ivf_assignments precedent: Spark interprets
    higher-order-function lambdas, so 48 aggregate() dot products per
    row ran ~20× slower than the batched (rows × dim) @ (dim ×
    bands·planes) product). Both sides use the same routine, so
    signatures stay internally consistent; the plane weights are the
    same `_plane_weight` literals the JVM path uses.
    """
    from akka_graph_db_spark.functions.similarity import (
        _plane_weight,
        cosine,
        infer_dim,
    )

    if bands < 1:
        raise ValueError("bands must be >= 1")
    dim = infer_dim(train, vec_col)
    wmat = [
        [_plane_weight(t, p, d) for d in range(dim)]
        for t in range(bands)
        for p in range(planes)
    ]

    def _sig_pass(out_id: str, u_col: str, s_col: str):
        def gen(batches):
            import numpy as np
            import pandas as pd

            W = np.asarray(wmat, dtype=np.float64).T  # dim x (bands*planes)
            pw = np.asarray(
                [1 << p for p in range(planes)], dtype=np.int64
            )
            for pdf in batches:
                V = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
                )
                norms = np.linalg.norm(V, axis=1)
                norms[norms == 0] = 1.0
                U = V / norms[:, None]
                bits = (U @ W) > 0  # rows x (bands*planes)
                sigs = (
                    bits.reshape(len(U), bands, planes) * pw
                ).sum(axis=2)
                yield pd.DataFrame(
                    {
                        out_id: pdf["_id"],
                        u_col: list(U),
                        s_col: list(sigs),
                    }
                )

        return gen

    tb = train.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(
        _sig_pass("train_id", "_ut", "_sigs_t"),
        schema=(
            "train_id bigint, _ut array<double>, _sigs_t array<bigint>"
        ),
    )
    ev = (
        eval_df.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
        )
        .mapInPandas(
            _sig_pass("eval_id", "_ue", "_sigs_e"),
            schema=(
                "eval_id bigint, _ue array<double>, "
                "_sigs_e array<bigint>"
            ),
        )
        .select(
            "eval_id",
            "_ue",
            "_sigs_e",
            F.posexplode("_sigs_e").alias("_band", "_sig"),
        )
    )
    tbx = tb.select(
        "train_id",
        "_ut",
        "_sigs_t",
        F.posexplode("_sigs_t").alias("_band", "_sig"),
    )
    first_collision = ~F.exists(
        F.slice(
            F.arrays_zip(F.col("_sigs_e"), F.col("_sigs_t")),
            F.lit(1),
            F.col("_band"),
        ),
        lambda z: z["_sigs_e"] == z["_sigs_t"],
    )
    return (
        tbx.join(F.broadcast(ev), ["_band", "_sig"], "inner")
        .where(first_collision)
        .select(
            "eval_id",
            "train_id",
            cosine(F.col("_ue"), F.col("_ut"), assume_unit=True).alias(
                "cosine_sim"
            ),
        )
        .where(F.col("cosine_sim") >= threshold)
    )
