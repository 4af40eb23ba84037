"""Batch index build — the reference's `PUT /Entities` pipeline
(SURVEY.md §3.2) as one declarative flow:

    ingest rows (one per datapoint, with models array)
      → explode models                                 (one row per vector)
      → sha256 text hash                               (F1, change detection)
      → distinct (text_hash, model)                    (E4 — dedup before embed)
      → left-join embedding cache                      (J8 — misses only)
      → embed misses (deterministic / provider seam)   (S5/S6)
      → union with cache hits → join back to rows      → index_flat
      → new cache entries appended                     (X3)

Incremental maintenance (X2): `merge_index` replaces only touched entities
(delete+insert per entity, the MERGE shape); `finalize_session` removes
entities absent from the accumulated upload (J6). Re-embedding is naturally
limited to changed text because unchanged text hits the cache (the
reference's hash-change predicate, SearchdomainHelper.cs:229-245).

At 100 TB: the only wide operations are the distinct on (text_hash, model)
and the cache lookup join — both keyed on the same columns, so one shuffle
partitioning serves both; everything else is scan-stage expression work.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from embeddingsearch_spark.functions.text import text_hash
from embeddingsearch_spark.sources.embedder import (
    DEFAULT_DIM,
    deterministic_embedding,
)


@dataclass
class BuildResult:
    """Counts are lazy — forcing them eagerly would add two extra Spark
    jobs per build (per micro-batch on the streaming path)."""

    index_flat: DataFrame
    new_cache_entries: DataFrame
    _needed: DataFrame = field(repr=False)
    _counts: dict = field(default_factory=dict, repr=False)

    def _count(self, key: str, df: DataFrame) -> int:
        if key not in self._counts:
            self._counts[key] = df.count()
        return self._counts[key]

    @property
    def n_requested(self) -> int:
        return self._count("requested", self._needed)

    @property
    def n_embedded(self) -> int:
        return self._count("embedded", self.new_cache_entries)

    @property
    def n_cache_hits(self) -> int:
        return self.n_requested - self.n_embedded


def build_index(
    ingest: DataFrame,
    embedding_cache: DataFrame | None = None,
    dim: int = DEFAULT_DIM,
    materialize_embedded: bool = False,
    provider=None,
) -> BuildResult:
    """ingest: INGEST_DATAPOINTS shape (one row per datapoint, ``models``
    array column, raw ``text``). Returns the index_flat rows plus the cache
    delta. The raw text is NOT carried into the index (reference stores
    only hash + vectors, Datapoint.cs:7-34).

    ``provider``: an `sources.embedder.HttpEmbedder` routes the embedding
    of cache MISSES through batched per-model HTTP calls (the reference's
    AIProvider dependency, AIProvider.cs:39-133); None keeps the
    deterministic JVM-side expression. Either way only misses embed —
    cache hits never reach the provider.

    ``materialize_embedded=True`` (the upsert and streaming write paths)
    reads ``ingest`` once and the embedding cache once, pinning:
      - ``rows``: the exploded, hashed batch;
      - the batch's distinct (text_hash, model) pairs left-joined to the
        cache, which splits into hits and misses;
      - ``embedded``: the embedded misses, so the embedding pass runs
        once for both of its consumers;
      - the returned ``index_flat``: the batch's index rows.
    Every later consumer of the batch (merge, dirty-domain collect,
    invalidation, query-result reconcile, per-batch persistence) derives
    from the returned pins, so a caller's ``createDataFrame(list)`` batch
    costs one pass of Python-worker tasks, not one per consumer."""
    rows = ingest.withColumn("model", F.explode("models")).withColumn(
        "text_hash", text_hash(F.col("text"))
    )
    if materialize_embedded:
        rows = rows.localCheckpoint(eager=True)
    needed = rows.select("text_hash", "text", "model").dropDuplicates(
        ["text_hash", "model"]
    )

    if embedding_cache is not None:
        cache = embedding_cache.select("text_hash", "model", "vector")
        looked = needed.join(cache, ["text_hash", "model"], "left")
        if materialize_embedded:
            looked = looked.localCheckpoint(eager=True)
        misses = looked.filter(F.col("vector").isNull()).drop("vector")
        hits = looked.filter(F.col("vector").isNotNull()).select(
            "text_hash", "model", "vector"
        )
    else:
        cache = None
        misses = needed
        hits = None

    if provider is not None:
        from embeddingsearch_spark.sources.embedder import embed_map_in_pandas

        embedded = embed_map_in_pandas(
            misses.select("text_hash", "text", "model"),
            dim=dim,
            provider=provider,
        ).select("text_hash", "model", "vector")
    else:
        embedded = misses.select(
            "text_hash",
            "model",
            deterministic_embedding(F.col("text"), F.col("model"), dim).alias(
                "vector"
            ),
        )
    if materialize_embedded:
        # index_flat and new_cache_entries both consume `embedded`; when
        # the caller materializes both (e.g. per streaming micro-batch),
        # checkpointing here makes the embedding pass run ONCE instead of
        # once per consumer (embedding is the expensive provider call).
        embedded = embedded.localCheckpoint(eager=True)
    vectors = embedded if hits is None else hits.unionByName(embedded)

    index_flat = (
        rows.select(
            "searchdomain",
            "entity",
            F.col("entity_probmethod"),
            "datapoint",
            F.col("dp_probmethod"),
            "simmethod",
            "text_hash",
            "model",
        )
        .join(vectors.drop("text"), ["text_hash", "model"])
        .select(
            "searchdomain",
            "entity",
            "entity_probmethod",
            "datapoint",
            "dp_probmethod",
            "simmethod",
            "text_hash",
            "model",
            "vector",
        )
    )
    if materialize_embedded:
        index_flat = index_flat.localCheckpoint(eager=True)
    return BuildResult(
        index_flat=index_flat,
        new_cache_entries=embedded,
        _needed=needed,
    )


def merge_index(existing: DataFrame, built: DataFrame) -> DataFrame:
    """Upsert: replace every entity present in ``built`` wholesale
    (delete+insert per entity — the MERGE shape of the reference's
    per-entity diff, SearchdomainHelper.cs:148-343). Entities not touched
    are kept as-is. The anti-join ignores duplicate keys, so ``built``'s
    keys are not de-duplicated first (that would cost a shuffle)."""
    touched = built.select("searchdomain", "entity")
    kept = existing.join(touched, ["searchdomain", "entity"], "left_anti")
    return kept.unionByName(built)


def finalize_session(index: DataFrame, uploaded: DataFrame) -> DataFrame:
    """Session-complete: drop entities absent from the uploaded set
    (reference EntityController.cs:163-199)."""
    keep = uploaded.select("searchdomain", "entity").distinct()
    return index.join(keep, ["searchdomain", "entity"], "left_semi")


def delete_entities(index: DataFrame, names: DataFrame) -> DataFrame:
    """Delete-by-join (reference DatabaseHelper.cs:196-209) as an anti-join
    rewrite; duplicate names need no de-duplication."""
    return index.join(
        names.select("searchdomain", "entity"),
        ["searchdomain", "entity"],
        "left_anti",
    )
