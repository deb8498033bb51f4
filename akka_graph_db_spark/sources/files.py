"""File interchange: JSONL and ORC readers/writers.

Parquet is the engine's native storage (store.py); JSONL is the lingua
franca of LLM training-data interchange — every curation pipeline imports
or exports it at some boundary. These helpers pin the two things that make
text formats hazardous at scale:

- **Explicit schema on read.** Schema inference samples the input — an
  extra pass at 100 TB, and a silently WRONG schema when late files add
  keys. Readers here require a DDL string.
- **Splittability.** Plain (uncompressed) JSONL splits by newline, so a
  100 TB dump still parallelizes; gzip does not split (one task per file)
  — callers shipping .gz must shard upstream, which is why ``write_jsonl``
  writes uncompressed parts by default.

The reference has no file formats at all (storage is delegated to Neo4j,
Neo4jGraph.scala:150-154; SURVEY.md §1.3) — this is interchange surface
for the §2.9 pipeline pack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_jsonl(df: DataFrame, path: str, compression: str | None = None):
    """Write one JSON object per line (sharded part files)."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """Read newline-delimited JSON with an EXPLICIT schema (DDL string).
    Malformed lines land in ``_corrupt_record``-free PERMISSIVE nulls by
    Spark default; switch to FAILFAST to refuse bad input outright."""
    return spark.read.schema(schema).json(path)


def write_orc(df: DataFrame, path: str, compression: str = "zlib"):
    """ORC interchange (Spark-native columnar alternative to parquet —
    common at Hive/Trino boundaries). Columnar + splittable + typed, so
    unlike the text formats no explicit-schema discipline is needed;
    compression defaults to zlib, ORC's widest-compatibility codec."""
    (
        df.write.mode("overwrite")
        .option("compression", compression)
        .orc(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read ORC; the embedded schema is authoritative (predicate
    pushdown and column pruning work as with parquet)."""
    return spark.read.orc(path)
