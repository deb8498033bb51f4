"""Deterministic Bloom-filter build / probe — broadcastable join pruning.

The 100 TB shape this implements: a semi-join where the build side is huge
but its KEY SET compresses into a fixed-size bitset. ``bloom_build``
reduces any build frame to at most ``m_bits`` distinct set-bit positions —
a frame whose size is bounded by the filter PARAMETER, not the data — so
the probe side is pruned by ``k`` broadcast semi-joins and never shuffles.
This is the DataFrame form of the runtime-filter pushdown engines inject
under joins (Spark's own ``spark.sql.optimizer.runtimeFilter.bloomFilter``
does the same with an opaque sketch); exposing it as an operator lets a
pipeline build the filter ONCE and reuse it across many probe queries
(e.g. "drop every doc whose url-hash is in yesterday's crawl" at ingest).

Guarantees (standard Bloom semantics, here bit-exact reproducible):
- NO false negatives: every probe key truly present in the build key set
  passes (pytest-pinned).
- False positives at the textbook rate (1 - e^(-k*n/m))^k; callers size
  ``m_bits`` ~10-20x the expected distinct-key count.

Determinism: bit positions are md5-derived (``hashing.md5_63`` — the
sign-masked little-endian uint64 both Spark and DuckDB can compute), so a
SQL oracle reproduces membership decisions EXACTLY — the sketch is
verifiable, not just plausible.

Reference parity note: the reference has no sketch surface (SURVEY.md
§2.7 — no aggregations at all); this belongs to the sanctioned
LLM-pipeline extension alongside the CMS/HLL sketches in
``functions/search.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from akka_graph_db_spark.functions.hashing import md5_63


def bloom_position(key: Column, i: int, m_bits: int) -> Column:
    """Bit position of hash function ``i`` for ``key`` (non-negative,
    < m_bits) — ``md5_63(key || ':' || i) % m_bits`` in both engines."""
    return md5_63(
        F.concat(key.cast("string"), F.lit(f":{i}"))
    ) % F.lit(m_bits)


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 1 << 20, k: int = 3
) -> DataFrame:
    """Build the filter: the DISTINCT set-bit positions (``pos`` BIGINT)
    of all keys in ``df[key_col]``.

    At most ``m_bits`` rows come out no matter how large ``df`` is — the
    build is one map + one distinct (partial-agg combines map-side), and
    the result broadcasts by construction. A packed bitmap would be ~64x
    smaller still, but position rows keep the filter a plain DataFrame
    (persistable, unionable for filter MERGES, and exactly SQL-checkable).
    """
    pos = [
        df.select(bloom_position(F.col(key_col), i, m_bits).alias("pos"))
        for i in range(k)
    ]
    out = pos[0]
    for p in pos[1:]:
        out = out.unionByName(p)
    return out.distinct()


def bloom_prune(
    probe: DataFrame,
    key_col: str,
    bits: DataFrame,
    m_bits: int,
    k: int,
) -> DataFrame:
    """Keep the rows of ``probe`` whose key MAY be in the built set (all
    ``k`` positions set). Compiled as ``k`` successive broadcast left-semi
    joins — zero shuffles of the probe side, no explode, no groupBy — so
    the probe scan streams straight through whole-stage codegen.

    ``bits``/``m_bits``/``k`` must come from the same ``bloom_build``
    call; a mismatched ``k`` silently changes the positions probed, so
    callers that persist filters should persist the params with them
    (same rule the MinHash sketches enforce, functions/dedup.py:237).
    """
    out = probe
    for i in range(k):
        out = out.withColumn(f"_bloom_p{i}", bloom_position(F.col(key_col), i, m_bits))
        out = out.join(
            F.broadcast(bits.withColumnRenamed("pos", f"_bloom_p{i}")),
            f"_bloom_p{i}",
            "left_semi",
        )
    return out.drop(*[f"_bloom_p{i}" for i in range(k)])
