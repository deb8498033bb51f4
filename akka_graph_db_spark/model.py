"""Core data model: labeled property graph as a pair of DataFrames.

Reference data model (SURVEY.md §1; `/root/reference/src/main/scala/neo4j/
Neo4jGraph.scala:53-84`): node = {id, label, data}, edge = {id, label, data,
_1, _2}; exactly one label per element; properties are a dynamic
JSON-valued map.

Spark layout (SURVEY.md §1.4):

- ``nodes(id BIGINT, label STRING, props MAP<STRING,STRING>, *promoted)``
- ``edges(id BIGINT, label STRING, src BIGINT, dst BIGINT, props
  MAP<STRING,STRING>, *promoted)``

``props`` values are canonical-JSON fragments (``"abc"``, ``12.5``, ``true``,
``null``, ``{"a":1}``, ``[1,2]``) so the reference's fully-dynamic typing —
including nested objects — survives columnar storage with full fidelity.
Numbers keep full precision (the canonical remote backend's semantics; we
deliberately do NOT replicate the embedded backend's lossy Float downcast,
`Neo4jGraph.scala:115-116`).

Two-tier property layout: hot keys are *promoted* to typed top-level columns
at ingest (e.g. ``mktsegment STRING``, ``acctbal DOUBLE``) so predicates on
them push down to parquet row groups — predicates on MAP values don't.
Operators prefer a promoted column when present and fall back to JSON
extraction from ``props``.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NODE_CORE_COLS = ("id", "label", "props")
EDGE_CORE_COLS = ("id", "label", "src", "dst", "props")


# ---------------------------------------------------------------------------
# JSON-fragment codec (reference: anyRefToJson/jsValueToAny,
# Neo4jGraph.scala:37-119) — all JVM-side expressions, no Python UDFs.
# ---------------------------------------------------------------------------

def json_string(c: Column) -> Column:
    """Encode a string column as a canonical JSON fragment (quoted+escaped).

    ``to_json(struct(v))`` produces ``{"v":"..."}`` with correct escaping;
    strip the 5-char prefix and 1-char suffix to get the bare fragment.
    Null in → null out (key will be dropped from the map).
    """
    j = F.to_json(F.struct(c.alias("v")))
    frag = F.substring(j, F.lit(6), F.length(j) - 6)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(frag)


def json_number(c: Column) -> Column:
    """Encode a numeric column as a JSON number fragment.

    Spark's double→string cast is shortest-roundtrip (Java semantics), so
    decode via ``cast('double')`` is lossless.
    """
    return c.cast("string")


_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def json_timestamp(c: Column) -> Column:
    """Timestamps as quoted ISO strings with microsecond precision."""
    s = F.date_format(c, _TS_FMT)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(F.lit('"'), s, F.lit('"'))
    )


def prop_raw(props: Column | str, key: str) -> Column:
    """The raw JSON fragment stored under ``key`` (None if absent)."""
    p = F.col(props) if isinstance(props, str) else props
    return p[key]


def prop_get(props: Column | str, key: str) -> Column:
    """Decode the fragment under ``key`` to its unquoted string form."""
    return F.get_json_object(prop_raw(props, key), "$")


def prop_str(props: Column | str, key: str) -> Column:
    return prop_get(props, key)


def prop_double(props: Column | str, key: str) -> Column:
    # try_cast: a non-numeric fragment decodes to NULL, not an ANSI error
    return prop_get(props, key).try_cast("double")


def prop_bool(props: Column | str, key: str) -> Column:
    return prop_get(props, key).try_cast("boolean")


def prop_timestamp(props: Column | str, key: str) -> Column:
    return F.to_timestamp(prop_get(props, key), _TS_FMT)


def props_map(*pairs: tuple[str, Column]) -> Column:
    """Build a MAP<STRING,STRING> of JSON fragments, dropping null values
    (absent key ≡ absent property, per the reference's null-removes-key
    semantics, Neo4jGraph.scala:486-487)."""
    args: list[Column] = []
    for k, v in pairs:
        args.append(F.lit(k))
        args.append(v)
    m = F.create_map(*args)
    return F.map_filter(m, lambda _, v: v.isNotNull())


def encode_py_value(v) -> str | None:
    """Python value → canonical JSON fragment (driver-side, for small
    mutation batches and predicates)."""
    import json

    if v is None:
        return None  # caller decides: absent vs JSON null ("null")
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


# ---------------------------------------------------------------------------
# PropertyGraph
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class PropertyGraph:
    """An immutable graph snapshot: two DataFrames.

    Mutations (operators.crud) return a NEW PropertyGraph — copy-on-write
    snapshots, the Spark-native answer to the reference's in-place
    Neo4j mutation (SURVEY.md §1.3/§1.4). Promoted columns beyond the core
    five/three are carried along transparently.
    """

    nodes: DataFrame
    edges: DataFrame

    def with_nodes(self, nodes: DataFrame) -> "PropertyGraph":
        return replace(self, nodes=nodes)

    def with_edges(self, edges: DataFrame) -> "PropertyGraph":
        return replace(self, edges=edges)

    def core(self) -> "PropertyGraph":
        """Project away promoted columns (uniform core schema)."""
        return PropertyGraph(
            nodes=self.nodes.select(*NODE_CORE_COLS),
            edges=self.edges.select(*EDGE_CORE_COLS),
        )

    def undirected_edges(self) -> DataFrame:
        """Edge list with both orientations — the input shape for undirected
        traversal/analytics. Columns: a, b, id, label."""
        e = self.edges
        fwd = e.select(
            F.col("src").alias("a"), F.col("dst").alias("b"), "id", "label"
        )
        rev = e.select(
            F.col("dst").alias("a"), F.col("src").alias("b"), "id", "label"
        )
        return fwd.unionByName(rev)

    def cache(self) -> "PropertyGraph":
        return PropertyGraph(self.nodes.cache(), self.edges.cache())

    def unpersist(self) -> "PropertyGraph":
        self.nodes.unpersist()
        self.edges.unpersist()
        return self
