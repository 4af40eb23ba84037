"""storage.compact: many small files → few right-sized files, data
identical, hive partitioning preserved."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from embeddingsearch_spark.storage import _list_data_files, compact


def _write_fragmented(spark, path, partitioned=False):
    df = spark.range(5000).select(
        F.col("id"),
        (F.col("id") % 3).alias("part"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    w = df.repartition(40).write.mode("overwrite")
    if partitioned:
        w = w.partitionBy("part")
    w.parquet(path)
    return df


def _contents(spark, path):
    return sorted(
        (r["id"], r["part"], r["payload"])
        for r in spark.read.parquet(path).collect()
    )


def test_compact_flat(spark, tmp_path):
    path = os.path.join(str(tmp_path), "frag")
    df = _write_fragmented(spark, path)
    before = _contents(spark, path)
    stats = compact(spark, path, target_file_mb=256)
    assert stats["files_before"] == 40
    assert stats["files_after"] == 1  # tiny data « target size
    assert _contents(spark, path) == before
    assert not os.path.exists(path + "._compact_tmp")
    assert not os.path.exists(path + "._compact_old")


def test_compact_partitioned(spark, tmp_path):
    path = os.path.join(str(tmp_path), "fragp")
    _write_fragmented(spark, path, partitioned=True)
    before = _contents(spark, path)
    n_before = len(_list_data_files(path))
    compact(spark, path, target_file_mb=256, partition_cols=["part"],
            sort_cols=["id"])
    assert _contents(spark, path) == before
    # one file per hive partition directory after compaction
    assert len(_list_data_files(path)) == 3 < n_before
    parts = {
        os.path.basename(os.path.dirname(p))
        for p, _ in _list_data_files(path)
    }
    assert parts == {"part=0", "part=1", "part=2"}


def test_write_training_shards(spark, tmp_path):
    from embeddingsearch_spark.operators.splits import epoch_shuffle
    from embeddingsearch_spark.storage import write_training_shards

    path = os.path.join(str(tmp_path), "shards")
    docs = spark.range(1000).select(F.col("id").alias("doc_id"))
    shuffled = epoch_shuffle(docs, "doc_id", epoch=1, n_shards=4)
    stats = write_training_shards(
        shuffled, path, n_shards=4, order_cols=["pos"]
    )
    assert stats["rows"] == 1000
    assert stats["n_files"] == 4
    back = spark.read.parquet(path)
    # shard membership reproducible: every file holds whole shards
    assert back.select("shard").distinct().count() == 4
    # per-file record cap splits oversized shards without another pass
    capped = os.path.join(str(tmp_path), "capped")
    stats2 = write_training_shards(
        shuffled, capped, n_shards=4, order_cols=["pos"],
        max_records_per_file=100,
    )
    assert stats2["rows"] == 1000
    assert stats2["n_files"] >= 10


def test_compact_index_table_fragmented_partitions_only(spark):
    """`storage.compact_index_table` on a bucketed, tenant-partitioned
    postings index after repeated upserts: rows identical, the
    under-bound partition's files untouched (byte-identical), the
    fragmented partition's file count drops, and the bucketed join
    layout survives (zero-exchange bucket-key aggregation after)."""
    import glob

    from embeddingsearch_spark.operators import retrieval
    from embeddingsearch_spark.plans import inspect as pi
    from embeddingsearch_spark.storage import (
        compact_index_table,
        drop_table,
    )

    table = "es_test_compact_idx"
    drop_table(spark, table)
    docs = spark.createDataFrame(
        [
            (i, f"tok{i % 5} common word{i}",
             ["acme", "globex"][i % 2])
            for i in range(20)
        ],
        "doc_id long, text string, source string",
    )
    retrieval.build_partitioned_postings_index(
        docs, table, partition_col="source", n_buckets=2
    )
    # fragment acme the way a long-lived streaming ingest does: many
    # small per-batch APPENDS, each landing its own file set
    cols = spark.table(table).columns
    template = (
        spark.table(table)
        .filter(F.col("source") == "acme")
        .limit(1)
        .localCheckpoint(eager=True)
    )
    for j in range(8):
        template.withColumn(
            "doc_id", F.lit(1000 + j).cast("long")
        ).select(*cols).repartition(1).write.mode("append").insertInto(
            table
        )
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")

    def listing(src):
        return sorted(
            (os.path.basename(p), os.path.getsize(p))
            for p in glob.glob(
                os.path.join(wh, table, f"source={src}", "*")
            )
            if not os.path.basename(p).startswith(("_", "."))
        )

    before_rows = sorted(
        tuple(r) for r in spark.table(table).collect()
    )
    before_globex = listing("globex")
    n_acme_before = len(listing("acme"))
    assert n_acme_before > 4, n_acme_before
    stats = compact_index_table(
        spark, table, max_files_per_partition=4
    )
    assert stats["partitions_compacted"] == 1
    assert stats["files_after"] < stats["files_before"]
    assert len(listing("acme")) <= 2  # n_buckets files from one task
    assert listing("globex") == before_globex
    after_rows = sorted(
        tuple(r) for r in spark.table(table).collect()
    )
    assert after_rows == before_rows
    # bucketing preserved: term-key aggregation stays exchange-free
    agg = spark.table(table).groupBy("term").count()
    assert pi.count_shuffles(agg) == 0


def test_compact_index_table_adaptive_bound(spark):
    """Adaptive mode (`max_files_per_partition=None`): a KB-scale
    partition fragmented into a dozen micro-batch files exceeds the
    2×needed-files bound (floor 4) and compacts; after one pass the
    same call is a no-op."""
    from embeddingsearch_spark.operators import retrieval
    from embeddingsearch_spark.storage import (
        compact_index_table,
        drop_table,
    )

    table = "es_test_compact_adaptive"
    drop_table(spark, table)
    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} word{i}", "acme") for i in range(10)],
        "doc_id long, text string, source string",
    )
    retrieval.build_partitioned_postings_index(
        docs, table, partition_col="source", n_buckets=2
    )
    cols = spark.table(table).columns
    template = spark.table(table).limit(1).localCheckpoint(eager=True)
    for j in range(12):
        template.withColumn(
            "doc_id", F.lit(2000 + j).cast("long")
        ).select(*cols).repartition(1).write.mode("append").insertInto(
            table
        )
    before = sorted(tuple(r) for r in spark.table(table).collect())
    stats = compact_index_table(
        spark, table, max_files_per_partition=None
    )
    assert stats["partitions_compacted"] == 1
    assert stats["files_after"] <= 4 < stats["files_before"]
    assert sorted(tuple(r) for r in spark.table(table).collect()) == before
    again = compact_index_table(
        spark, table, max_files_per_partition=None
    )
    assert again["partitions_compacted"] == 0


def test_compact_index_table_skips_bucket_granular_partitions(spark):
    """Partitions written by upserts hold one file per bucket, which is
    as compact as a bucketed table gets: with a bound under the bucket
    count, compaction rewrites none of them (files byte-identical),
    while a partition fragmented by appends still compacts."""
    import glob

    from embeddingsearch_spark.operators import retrieval
    from embeddingsearch_spark.storage import (
        compact_index_table,
        drop_table,
    )

    table = "es_test_compact_upserted"
    drop_table(spark, table)
    docs = spark.createDataFrame(
        [
            (i, f"tok{i % 5} common word{i}", ["acme", "globex"][i % 2])
            for i in range(40)
        ],
        "doc_id long, text string, source string",
    )
    retrieval.build_partitioned_postings_index(
        docs.filter(F.col("doc_id") < 30), table,
        partition_col="source", n_buckets=4,
    )
    retrieval.upsert_partitioned_postings_index(
        spark, table, docs.filter(F.col("doc_id") >= 30),
        partition_col="source", n_buckets=4,
    )
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")

    def listing(src):
        return sorted(
            (os.path.basename(p), os.path.getsize(p))
            for p in glob.glob(
                os.path.join(wh, table, f"source={src}", "*")
            )
            if not os.path.basename(p).startswith(("_", "."))
        )

    before = {src: listing(src) for src in ("acme", "globex")}
    # over the requested bound of 2, at the table's 4 buckets
    assert all(2 < len(v) <= 4 for v in before.values()), before
    stats = compact_index_table(spark, table, max_files_per_partition=2)
    assert stats["partitions_compacted"] == 0
    assert {src: listing(src) for src in ("acme", "globex")} == before

    cols = spark.table(table).columns
    template = (
        spark.table(table)
        .filter(F.col("source") == "acme")
        .limit(1)
        .localCheckpoint(eager=True)
    )
    for j in range(3):
        template.withColumn(
            "doc_id", F.lit(1000 + j).cast("long")
        ).select(*cols).repartition(1).write.mode("append").insertInto(
            table
        )
    assert len(listing("acme")) > 4
    stats = compact_index_table(spark, table, max_files_per_partition=2)
    assert stats["partitions_compacted"] == 1
    assert len(listing("acme")) <= 4
    assert listing("globex") == before["globex"]
