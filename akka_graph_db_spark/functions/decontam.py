"""Train/eval decontamination: n-gram overlap between two corpora.

The standard benchmark-leakage check of an LLM training pipeline: an eval
document is contaminated when a large fraction of its n-grams also appear
anywhere in the training corpus (the GPT-3/PaLM-style 8-13-gram overlap
rule). No reference file:line — this is part of the sanctioned
LLM-data-pipeline extension surface (SURVEY.md §2.9).

Scale design (the 100 TB story): both sides reduce to DISTINCT 64-bit
n-gram keys before the join — the train side carries each key exactly
once, so the semi-join fans out at most one match per eval key (no hot-key
amplification even for stop-word shingles), and the shuffle moves 8-byte
longs, never shingle strings. The whole operator is two hash aggregations
plus one equi-join on a long — every stage map-side combinable and
AQE-coalescible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from akka_graph_db_spark.functions.hashing import token_hash
from akka_graph_db_spark.functions.text import shingles, tokens


def _ngram_keys(
    df: DataFrame, text_col: str, n: int, hash_family: str
) -> DataFrame:
    """One row per DISTINCT n-gram per document: (id cols..., gram_key)."""
    sh = F.array_distinct(shingles(tokens(F.col(text_col)), n))
    return df.withColumn("_gram", F.explode(sh)).withColumn(
        "gram_key", token_hash(F.col("_gram"), hash_family)
    )


def contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per eval document: how many of its distinct n-grams appear anywhere
    in the training corpus.

    Returns (id_col, n_ngrams, n_overlap, contamination) where
    ``contamination`` = n_overlap / n_ngrams in [0, 1]. Documents shorter
    than ``n`` tokens contribute their single full-text shingle (same rule
    as the dedup shinglers), so n_ngrams >= 1 always and the ratio is
    never null.

    ``hash_family="md5"`` keys grams with the DuckDB-reproducible hash;
    the default xxhash64 is the fast path (the output carries only counts,
    so either family yields identical results barring a 64-bit collision).
    """
    train_keys = (
        _ngram_keys(train, text_col, n, hash_family)
        .select("gram_key")
        .distinct()
    )
    eval_keys = _ngram_keys(eval_df, text_col, n, hash_family).select(
        id_col, "gram_key"
    )
    totals = eval_keys.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_ngrams")
    )
    hits = (
        eval_keys.join(train_keys, "gram_key", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        totals.join(hits, id_col, "left")
        .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)))
        .withColumn(
            "contamination", F.col("n_overlap") / F.col("n_ngrams")
        )
    )

