"""Mergeable sketches over Structured Streaming micro-batches.

A count-min sketch is a MERGEABLE summary: counters add, so the sketch
of a union is the cell-wise sum of per-part sketches. That makes it the
fixed-memory streaming frequency answer at 100 TB/day ingest — each
micro-batch contributes an O(batch) aggregation, the accumulated state
is ≤ depth×width rows regardless of how much data has flowed through,
and the merged sketch is BIT-IDENTICAL to the batch sketch of the same
rows (the stream≡batch oracle property; the hash draw is pinned to the
repo's md5 family, see functions/search.py cms_sketch).

No reference file:line — sanctioned LLM-pipeline extension surface
(SURVEY.md §2.9); the streaming plumbing mirrors streaming/fold.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from akka_graph_db_spark.functions.search import cms_sketch
from akka_graph_db_spark.streaming import drain


class _MergeableSketch:
    """One accumulator for every mergeable sketch: each micro-batch's
    part sketch is unioned with the running sketch and re-aggregated on
    ``_keys`` by ``_merge()``; attach ``step`` to
    ``writeStream.foreachBatch`` or use :meth:`run`.

    Every step materializes the MERGED sketch (localCheckpoint) — unlike
    the graph fold's snapshot this is cheap by design: the state is
    bounded by the sketch shape whatever the stream volume, so per-batch
    materialization is O(sketch), bounds lineage, and never re-reads an
    expired micro-batch frame. Subclasses are dataclasses that declare
    ``sketch`` and ``batches_applied`` fields and the four differences:
    ``_part``, ``_keys``, ``_merge`` and ``_empty_schema``.
    """

    _keys: tuple[str, ...]
    _empty_schema: str

    def _part(self, batch: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _merge(self) -> Column:
        raise NotImplementedError

    def step(self, batch: DataFrame, batch_id: int) -> None:
        part = self._part(batch)
        merged = (
            part
            if self.sketch is None
            else self.sketch.unionByName(part)
            .groupBy(*self._keys)
            .agg(self._merge())
        )
        self.sketch = merged.localCheckpoint(eager=True)
        self.batches_applied += 1

    def run(self, stream: DataFrame, checkpoint_dir: str) -> DataFrame:
        """Consume an entire available stream (Trigger.AvailableNow) and
        return the accumulated sketch frame."""
        drain(stream.writeStream.foreachBatch(self.step), checkpoint_dir)
        if self.sketch is None:
            return stream.sparkSession.createDataFrame(
                [], self._empty_schema
            )
        return self.sketch


@dataclass
class StreamingCMS(_MergeableSketch):
    """Count-min sketch (row, bucket, cnt) accumulated across
    micro-batches: counters add, and the state is at most depth×width
    rows."""

    term_col: str = "term"
    width: int = 1024
    depth: int = 4
    sketch: DataFrame | None = field(default=None, repr=False)
    batches_applied: int = 0

    _keys = ("row", "bucket")
    _empty_schema = "row int, bucket bigint, cnt bigint"

    def _part(self, batch: DataFrame) -> DataFrame:
        return cms_sketch(
            batch, term_col=self.term_col, width=self.width, depth=self.depth
        )

    def _merge(self) -> Column:
        return F.sum("cnt").alias("cnt")


@dataclass
class StreamingHLL(_MergeableSketch):
    """HyperLogLog registers (bucket, register) accumulated across
    micro-batches: registers merge by per-bucket MAX, so — like the CMS
    — the streamed sketch is bit-identical to the batch sketch of the
    same rows, and the state is at most 2**p rows regardless of stream
    volume. The fixed-memory streaming COUNT DISTINCT (CMS answers "how
    often", HLL "how many distinct")."""

    value_col: str
    p: int = 10
    sketch: DataFrame | None = field(default=None, repr=False)
    batches_applied: int = 0

    _keys = ("bucket",)
    _empty_schema = "bucket bigint, register int"

    def _part(self, batch: DataFrame) -> DataFrame:
        from akka_graph_db_spark.functions.search import hll_sketch

        return hll_sketch(batch, self.value_col, p=self.p)

    def _merge(self) -> Column:
        return F.max("register").cast("int").alias("register")


@dataclass
class StreamingHistogram(_MergeableSketch):
    """Fixed-width histogram (bin, cnt) accumulated across micro-batches:
    bin counts ADD, so the merged histogram is bit-identical to the
    batch histogram of the same rows (same stream≡batch property as the
    CMS; the binning is an exact IEEE division when ``bin_width`` is a
    power of two). State is one row per OCCUPIED bin — value-range-
    bounded, not volume-bounded — the streaming distribution monitor."""

    value_col: str
    bin_width: float = 8.0
    sketch: DataFrame | None = field(default=None, repr=False)
    batches_applied: int = 0

    _keys = ("bin",)
    _empty_schema = "bin bigint, cnt bigint"

    def _part(self, batch: DataFrame) -> DataFrame:
        from akka_graph_db_spark.functions.profile import (
            fixed_bin_histogram,
        )

        return fixed_bin_histogram(
            batch, self.value_col, bin_width=self.bin_width
        )

    def _merge(self) -> Column:
        return F.sum("cnt").cast("bigint").alias("cnt")
