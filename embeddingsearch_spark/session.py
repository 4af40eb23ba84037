"""SparkSession builder with scale-oriented defaults.

Tested on local[N]; the config choices are the ones that matter on a real
cluster: AQE (runtime re-planning, skew-join splitting, partition
coalescing), broadcast threshold for dimension/query-vector joins, Arrow for
the few pandas-UDF paths, and parquet pushdown/pruning left at their
(enabled) defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "embeddingsearch-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY", "32g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs everything in the driver JVM; the 1g default
        # heap GC-thrashes any real workload on this 128 GiB host
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce small shuffle partitions, split skewed ones, and
        # convert to broadcast joins at runtime — essential at 100 TB where
        # static planning guesses wrong.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Query-vector / dimension tables are tiny; make sure they broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for pandas-UDF boundaries (embedder, multimodal decode).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # A mix of serve and write requests generates ~150 classes, more
        # than the default 100-entry codegen cache holds: its LRU evicted
        # each class before reuse and every request recompiled.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # NOTE: no spark.sql.legacy.parquet.nanosAsLong here — tables.load
        # reads events.parquet with an explicit schema (ts LONG) so the code
        # works in ANY session, including harnesses that build their own.
        # Keeping the conf out makes local runs replicate foreign sessions.
        # Quieter local runs; no effect on semantics.
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
