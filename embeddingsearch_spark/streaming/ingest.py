"""Continuous index ingest — the reference Indexer's trigger surface
(SURVEY.md §2.9) on Structured Streaming.

Reference triggers map as:
  T1 runonce   → one batch job (plain `build_index`)
  T2 interval  → `Trigger.ProcessingTime(...)` (`processing_time=` here)
  T3 schedule  → external cron submitting `Trigger.AvailableNow` runs
  T4 fileupdate→ file-source `readStream` on a watched directory (this module)
  T6 sessions  → per-batch merge + final `finalize_session` anti-join

Each micro-batch runs the SAME batch pipeline (`index_build.build_index` →
`merge_index`) inside `foreachBatch` — one code path for batch and
streaming, the Spark idiom for incremental MERGE maintenance. The reference
is processing-time only (no event-time/watermarks on the ingest path —
SURVEY.md §2.9), so no watermark here; watermarked event-time rollups live
in `streaming.windows`.

At 100 TB: each micro-batch shuffles only on (text_hash, model) for the
dedup + cache anti-join (bounded by batch size, not index size); the merge
anti-join is index-sized but prunes to touched searchdomain partitions
when the index is a partitioned table.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession

from embeddingsearch_spark import schemas
from embeddingsearch_spark.operators import index_build


class StreamingIndexer:
    """Accumulates a flat index from a stream of INGEST_DATAPOINTS batches.

    Feed it either a real file-source stream (`start`) or direct batches
    (`process_batch` — also the foreachBatch callback). State lives in two
    DataFrames checkpointed per batch (on a cluster: Delta tables, with
    the merge expressed as MERGE INTO keyed on searchdomain/entity).
    """

    def __init__(
        self,
        spark: SparkSession,
        dim: int | None = None,
        save_path: str | None = None,
    ):
        from embeddingsearch_spark.sources.embedder import DEFAULT_DIM

        self.spark = spark
        self.dim = dim or DEFAULT_DIM
        self.index_flat = spark.createDataFrame([], schemas.INDEX_FLAT)
        self.embedding_cache = spark.createDataFrame([], schemas.EMBEDDING_CACHE)
        self.n_batches = 0
        # Optional durable state: with save_path set, every micro-batch
        # persists ONLY the searchdomain partitions it touched (dynamic
        # partition overwrite) and appends only the new cache entries —
        # per-trigger persistence cost scales with the BATCH, not the
        # accumulated index (the MERGE-storage shape of Engine.save).
        self.save_path = save_path

    def process_batch(self, batch: DataFrame, batch_id: int = -1) -> None:
        from pyspark.sql import functions as F

        cache = self.embedding_cache.withColumn(
            "vector", F.col("vector").cast("array<double>")
        )
        built = index_build.build_index(
            batch, cache, self.dim, materialize_embedded=True
        )
        self.index_flat = index_build.merge_index(
            self.index_flat.withColumn(
                "vector", F.col("vector").cast("array<double>")
            ),
            built.index_flat,
        ).localCheckpoint(eager=True)
        self.embedding_cache = cache.unionByName(
            built.new_cache_entries.drop("text")
        ).localCheckpoint(eager=True)
        self.n_batches += 1
        if self.save_path is not None:
            self._persist_batch(built)

    def _persist_batch(self, built) -> None:
        from pyspark.sql import functions as F

        from embeddingsearch_spark import storage

        # the batch's pinned index rows, not the micro-batch itself, so
        # the source is read once per trigger
        touched = [
            r[0]
            for r in built.index_flat.select("searchdomain")
            .distinct()
            .collect()
        ]
        if touched:
            storage.overwrite_partitions(
                self.index_flat.filter(
                    F.col("searchdomain").isin(touched)
                ),
                f"{self.save_path}/index_flat",
                ["searchdomain"],
            )
        delta = built.new_cache_entries.drop("text").withColumn(
            "vector", F.col("vector").cast("array<float>")
        )
        if delta.head(1):
            delta.write.mode("append").parquet(
                f"{self.save_path}/embedding_cache"
            )

    def start(
        self,
        input_dir: str,
        schema=None,
        file_format: str = "parquet",
        available_now: bool = True,
        processing_time: str | None = None,
        max_files_per_trigger: int | None = None,
        checkpoint_dir: str | None = None,
        transform=None,
        path_glob: str | None = None,
    ):
        """Watch ``input_dir`` (T4): every new file becomes (part of) a
        micro-batch merged into the index. ``available_now=True`` drains
        what exists and stops (T3 shape); ``processing_time`` keeps it
        running on an interval (T2 shape). ``transform`` maps the raw file
        rows to INGEST_DATAPOINTS shape (the reference script's ETL step,
        SURVEY.md §3.3) — applied to the streaming DataFrame, so it stays
        declarative and runs inside each micro-batch plan."""
        reader = self.spark.readStream.format(file_format)
        if schema is not None:
            reader = reader.schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        if path_glob is not None:
            reader = reader.option("pathGlobFilter", path_glob)
        stream = reader.load(input_dir)
        if transform is not None:
            stream = transform(stream)

        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option(
                "checkpointLocation",
                checkpoint_dir or tempfile.mkdtemp(prefix="esidx_ckpt_"),
            )
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time is not None:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def finalize_session(self, uploaded: DataFrame) -> None:
        """T6 session-complete: drop entities absent from the accumulated
        upload set (J6)."""
        self.index_flat = index_build.finalize_session(
            self.index_flat, uploaded
        ).localCheckpoint(eager=True)


def ingest_available_now(
    spark: SparkSession,
    input_dir: str,
    schema,
    file_format: str = "parquet",
    dim: int | None = None,
    max_files_per_trigger: int | None = None,
    transform=None,
    path_glob: str | None = None,
) -> StreamingIndexer:
    """Drain ``input_dir`` through the streaming ingest path and return the
    indexer with its final state (blocks until the stream terminates)."""
    indexer = StreamingIndexer(spark, dim)
    q = indexer.start(
        input_dir,
        schema=schema,
        file_format=file_format,
        available_now=True,
        max_files_per_trigger=max_files_per_trigger,
        transform=transform,
        path_glob=path_glob,
    )
    q.awaitTermination()
    return indexer
