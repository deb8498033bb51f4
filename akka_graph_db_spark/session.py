"""SparkSession factory tuned for this engine.

Local mode is a stand-in for a real cluster: the conf below (AQE, skew join,
shuffle partitions sized to cores, Arrow for the Pandas-UDF slow path) is the
same conf we would ship at 100 TB — only ``master`` and the partition counts
change. Callers that already hold a session (the driver harness does) never
need this module; every operator takes DataFrames in / DataFrames out.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Size of Spark's generated-code (Janino) class cache, a static conf;
# Spark's default is 100. Measured working set: one steady-state cycle of
# the perfbench mutation_log workload (four durable-fold micro-batches, a
# compaction, six merge-on-read reads; 4 local cores) compiles ~635
# classes at 100 entries and ~80 at 1000. The other ~555 recur on every
# cycle; the ~80 come from per-call literals (SCALE.md §1). A
# batch_analytics pass needs fewer than 100. Peak RSS of a mutation_log
# run rose 4% (median of 20 runs, which also got through more cycles).
CODEGEN_CACHE_MAX_ENTRIES = 1000


def get_spark(
    app_name: str = "akka-graph-db-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    shuffle = int(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.codegen.cache.maxEntries",
            str(CODEGEN_CACHE_MAX_ENTRIES),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_query_conf(spark: SparkSession) -> SparkSession:
    """Runtime-settable conf every query in this engine relies on.

    Idempotent; safe to call on a session we didn't create (the driver's).
    UTC session TZ keeps timestamp collection byte-identical with the DuckDB
    oracle; AQE handles skewed frontier joins at scale.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
