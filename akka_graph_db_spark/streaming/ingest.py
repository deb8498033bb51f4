"""At-ingest streaming near-dup filtering (SURVEY.md §2.9 streaming +
the dedup pack): every production corpus dedupes the incoming stream
against the EXISTING base — never the corpus against itself again.

``StreamingCrossDedup`` is the Structured-Streaming form of
``functions.dedup.minhash_dedup_cross``: the base corpus's banded LSH
index and hashed shingle sets are computed ONCE at construction and
persisted (at 100 TB this is the bucketed store table the batch
function's docstring prescribes — here an in-memory persist), then each
micro-batch runs only the asymmetric band join of ITS docs against that
index plus the exact Jaccard verify. Because each new doc's matches
depend only on (doc, base) — never on other streamed docs — the union
of per-batch outputs is bit-identical to the one-shot batch run over
the same rows: the stream≡batch equivalence the oracle certifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from akka_graph_db_spark.functions.dedup import (
    _shingle_sets,
    _signatures,
    jaccard,
)
from akka_graph_db_spark.streaming import drain


class StreamingCrossDedup:
    """Precomputed-base streaming dedup-at-ingest.

    Parameters mirror ``minhash_dedup_cross``; the base frames persist
    until :meth:`close`.
    """

    def __init__(
        self,
        base_df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.9,
        num_perm: int = 64,
        bands: int = 16,
        shingle_n: int = 1,
        arrow: bool = True,
    ):
        if num_perm % bands != 0:
            raise ValueError("num_perm must be divisible by bands")
        self.text_col, self.id_col = text_col, id_col
        self.threshold, self.num_perm = threshold, num_perm
        self.bands, self.shingle_n = bands, shingle_n
        self.arrow = arrow
        r = num_perm // bands
        sigs = _signatures(
            base_df, text_col, id_col, num_perm, shingle_n, arrow
        )
        self._base_banded = sigs.select(
            F.col("_id").alias("base_id"),
            F.posexplode(
                F.array(
                    *[
                        F.xxhash64(F.slice(F.col("_sig"), i * r + 1, r))
                        for i in range(bands)
                    ]
                )
            ).alias("band_idx", "band_hash"),
        ).persist()
        self._base_sh = _shingle_sets(
            base_df, text_col, id_col, shingle_n
        ).select(
            F.col("_sid").alias("base_id"),
            F.col("_sh").alias("_shb"),
            F.col("_n").alias("_nb"),
        ).persist()
        # materialize now: every micro-batch reuses, none rebuilds
        self._base_banded.count()
        self._base_sh.count()

    def _match_batch(self, batch_df: DataFrame) -> DataFrame:
        r = self.num_perm // self.bands
        sigs = _signatures(
            batch_df, self.text_col, self.id_col, self.num_perm,
            self.shingle_n, self.arrow,
        )
        banded_new = sigs.select(
            F.col("_id").alias("new_id"),
            F.posexplode(
                F.array(
                    *[
                        F.xxhash64(
                            F.slice(F.col("_sig"), i * r + 1, r)
                        )
                        for i in range(self.bands)
                    ]
                )
            ).alias("band_idx", "band_hash"),
        )
        cands = (
            banded_new.join(
                self._base_banded, ["band_idx", "band_hash"]
            )
            .select("new_id", "base_id")
            .distinct()
        )
        shn = _shingle_sets(
            batch_df, self.text_col, self.id_col, self.shingle_n
        ).select(
            F.col("_sid").alias("new_id"),
            F.col("_sh").alias("_sha"),
            F.col("_n").alias("_na"),
        )
        ratio_ok = (
            F.least("_na", "_nb") / F.greatest("_na", "_nb")
        ) >= F.lit(self.threshold)
        sim = jaccard(F.col("_sha"), F.col("_shb"))
        return (
            cands.join(shn, "new_id")
            .join(self._base_sh, "base_id")
            .where(ratio_ok)
            .select("new_id", "base_id", sim.alias("jaccard_sim"))
            .where(F.col("jaccard_sim") >= self.threshold)
        )

    def run(
        self, stream: DataFrame, out_path: str, checkpoint: str
    ) -> DataFrame:
        """Drain ``stream`` (availableNow) through the per-batch match,
        appending (new_id, base_id, jaccard_sim) to ``out_path``;
        returns the accumulated matches."""
        spark = self._base_banded.sparkSession

        def _each(batch_df, _epoch):
            if batch_df.isEmpty():
                return
            self._match_batch(batch_df).write.mode("append").parquet(
                out_path
            )

        drain(stream.writeStream.foreachBatch(_each), checkpoint)
        # A zero-duplicate stream is a normal outcome, not an error:
        # _each appends only when a batch has matches, so out_path may
        # not exist at all — return an empty typed frame instead of
        # letting the read raise AnalysisException (ADVICE r8).
        import os

        if not os.path.exists(out_path):
            empty = spark.createDataFrame([], stream.schema)
            return spark.createDataFrame(
                [], self._match_batch(empty).schema
            )
        return spark.read.parquet(out_path)

    def close(self):
        self._base_banded.unpersist()
        self._base_sh.unpersist()
