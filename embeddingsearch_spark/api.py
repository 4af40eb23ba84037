"""Library-level equivalent of the reference's Client API
(reference Client.cs:39-241 — Entities list/index/delete, Searchdomain
query, Server models/stats) as calls over DataFrames/tables instead of HTTP.

State is two tables (kept as DataFrames; persist with ``save``/``load`` for
cross-session use): ``index_flat`` and ``embedding_cache``. On a cluster
these would be Delta/parquet tables partitioned by ``searchdomain``; the
operators underneath are identical.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from embeddingsearch_spark import schemas
from embeddingsearch_spark.operators import index_build, search as search_op
from embeddingsearch_spark.sources.embedder import (
    DEFAULT_DIM,
    deterministic_embedding,
)


@dataclass
class SearchdomainSettings:
    """Per-domain settings (reference SearchdomainModels.cs:98-105).

    ``cache_reconciliation``: True → materialized query results are
    repaired incrementally on upsert/delete; False → they are invalidated
    (cleared) instead, the reference's default. The engine defaults to
    True — a declared deviation: set-based reconciliation is cheap here,
    while the reference's per-entity loop made it opt-in."""

    cache_reconciliation: bool = True
    query_cache_size: int = 1_000_000
    parallel_embeddings_prefetch: bool = False


def database_size_breakdown(
    idx: DataFrame, query_results: DataFrame | None = None
) -> DataFrame:
    """(table, n_bytes) rows for the normalized tables' payload columns
    derived from index_flat-shaped rows — the engine's equivalent of the
    reference's per-table SUM(LENGTH(...)) size accounting
    (DatabaseHelper.cs:291-397). One aggregation per logical table, all
    map-side partial; vectors count at float32 width."""
    entity = (
        idx.select("searchdomain", "entity", "entity_probmethod")
        .distinct()
        .agg(
            F.coalesce(
                F.sum(
                    F.octet_length("searchdomain")
                    + F.octet_length("entity")
                    + F.octet_length("entity_probmethod")
                ).cast("bigint"),
                F.lit(0),
            ).alias("n_bytes")
        )
        .select(F.lit("entity").alias("table"), "n_bytes")
    )
    datapoint = (
        idx.select(
            "searchdomain", "entity", "datapoint", "dp_probmethod",
            "simmethod", "text_hash",
        )
        .distinct()
        .agg(
            F.coalesce(
                F.sum(
                    F.octet_length("datapoint")
                    + F.octet_length("dp_probmethod")
                    + F.octet_length("simmethod")
                    + F.octet_length("text_hash")
                ).cast("bigint"),
                F.lit(0),
            ).alias("n_bytes")
        )
        .select(F.lit("datapoint").alias("table"), "n_bytes")
    )
    embedding = idx.agg(
        F.coalesce(
            F.sum(F.octet_length("model") + F.size("vector") * 4).cast("bigint"),
            F.lit(0),
        ).alias("n_bytes")
    ).select(F.lit("embedding").alias("table"), "n_bytes")
    out = entity.unionByName(datapoint).unionByName(embedding)
    if query_results is not None:
        queries = query_results.agg(
            F.coalesce(
                F.sum(
                    F.octet_length("query") + F.octet_length("entity") + F.lit(12)
                ).cast("bigint"),
                F.lit(0),
            ).alias("n_bytes")
        ).select(F.lit("query_results").alias("table"), "n_bytes")
        out = out.unionByName(queries)
    return out


def _reads_under(df: DataFrame, path: str) -> bool:
    """True when ``df`` scans any file below directory ``path``."""
    import os
    from urllib.parse import urlparse

    url = urlparse(path)
    root = (url.path if url.scheme else os.path.abspath(path)).rstrip("/")
    root += "/"
    return any(urlparse(f).path.startswith(root) for f in df.inputFiles())


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        dim: int = DEFAULT_DIM,
        provider=None,
    ):
        self.spark = spark
        self.dim = dim
        # Optional sources.embedder.HttpEmbedder: routes BOTH ingest-time
        # and query-time embedding of cache misses through the provider
        # (the reference's AiProvider dependency). None keeps the
        # deterministic expression embedder.
        self.provider = provider
        self.index_flat = spark.createDataFrame([], schemas.INDEX_FLAT)
        self.embedding_cache = spark.createDataFrame([], schemas.EMBEDDING_CACHE)
        self.query_results = spark.createDataFrame(
            [],
            "searchdomain string, query string, entity string, "
            "score double, rank int",
        )
        self._settings: dict[str, SearchdomainSettings] = {}
        # MERGE-grade persistence state: which searchdomain partitions have
        # changed since the last save/load of _save_root. None = provenance
        # unknown → next save() is a full rewrite. A domain in the set has
        # its partition selectively rewritten (or its directory removed if
        # its row-set became empty) by the next incremental save().
        self._save_root: str | None = None
        self._dirty: set[str] | None = None

    def _note_dirty(self, domains) -> None:
        """Record searchdomains whose persisted partitions are stale.
        ``domains`` is a list of names or a DataFrame with a searchdomain
        column (distinct names are collected — domain cardinality is small
        by design, mirroring the reference's per-domain caches)."""
        if self._dirty is None:
            return
        if isinstance(domains, DataFrame):
            names = [
                r[0]
                for r in domains.select("searchdomain").distinct().collect()
            ]
        else:
            names = list(domains)
        self._dirty.update(names)

    # -- indexing (PUT /Entities equivalent) --------------------------------

    def index_entities(self, ingest: DataFrame) -> index_build.BuildResult:
        """Upsert entities from INGEST_DATAPOINTS-shaped rows; re-embeds
        only cache misses (hash change detection). Materialized query
        results are repaired incrementally for the touched entities
        (reference cache reconciliation, Searchdomain.cs:298-326) — or
        invalidated wholesale for domains with
        ``cache_reconciliation=False`` (the reference's default policy).

        ``ingest`` is read once: `build_index` pins the exploded batch,
        its embedding-cache lookup, the embedded misses and the batch's
        index rows (``result.index_flat``), and the merge, the
        dirty-domain collect, the invalidation and the reconcile all
        derive from that pinned ``result.index_flat``. The merged index and the grown embedding
        cache are pinned too, before they replace the engine's state."""
        cache = self.embedding_cache.withColumn(
            "vector", F.col("vector").cast("array<double>")
        )
        result = index_build.build_index(
            ingest,
            cache,
            self.dim,
            materialize_embedded=True,
            provider=self.provider,
        )
        # Materialize before self-referential reassignment.
        new_index = index_build.merge_index(
            self.index_flat.withColumn(
                "vector", F.col("vector").cast("array<double>")
            ),
            result.index_flat,
        ).localCheckpoint(eager=True)
        new_cache = cache.unionByName(
            result.new_cache_entries.drop("text")
        ).localCheckpoint(eager=True)
        self.index_flat = new_index
        self.embedding_cache = new_cache
        touched = result.index_flat.select("searchdomain", "entity")
        self._note_dirty(touched)
        self._invalidate_disabled(touched)
        self._reconcile_query_results(touched)
        return result

    def _invalidate_disabled(self, touched: DataFrame) -> None:
        """Clear materialized results for touched domains whose settings
        opt out of reconciliation (cache invalidation, the reference's
        SearchdomainInvalidateCache behavior applied on change).
        ``touched`` is any frame with a searchdomain column."""
        disabled = [
            d
            for d, s in self._settings.items()
            if not s.cache_reconciliation
        ]
        if not disabled or not self.query_results.head(1):
            return
        drop = (
            touched.select("searchdomain")
            .distinct()
            .filter(F.col("searchdomain").isin(disabled))
        )
        self.query_results = self.query_results.join(
            F.broadcast(drop), "searchdomain", "left_anti"
        ).localCheckpoint(eager=True)

    def finalize_session(self, uploaded: DataFrame) -> None:
        """Delete entities absent from the uploaded set (session complete)."""
        self.index_flat = index_build.finalize_session(
            self.index_flat, uploaded
        ).localCheckpoint(eager=True)
        # Finalize prunes entities across EVERY domain (entities absent
        # from the uploaded set are dropped globally) — all partitions are
        # potentially stale, so the next save() must be a full rewrite.
        self._dirty = None
        self._invalidate_disabled(uploaded)
        self._drop_deleted_from_results()

    def delete_entities(self, names: DataFrame) -> None:
        """Delete the (searchdomain, entity) pairs in ``names``. ``names``
        is read once: its distinct pairs are pinned, and the anti-join,
        the dirty-domain collect and the invalidation all read that pin."""
        keys = (
            names.select("searchdomain", "entity")
            .distinct()
            .localCheckpoint(eager=True)
        )
        self.index_flat = index_build.delete_entities(
            self.index_flat, keys
        ).localCheckpoint(eager=True)
        self._note_dirty(keys)
        self._invalidate_disabled(keys)
        self._drop_deleted_from_results()

    def _drop_deleted_from_results(self) -> None:
        """Remove rankings rows for entities no longer indexed, re-rank."""
        if not self.query_results.head(1):
            return
        remaining = self.query_results.join(
            self.index_flat.select("searchdomain", "entity").distinct(),
            ["searchdomain", "entity"],
            "left_semi",
        ).select("searchdomain", "query", "entity", "score")
        self.query_results = search_op.rank_results(
            remaining
        ).localCheckpoint(eager=True)

    # -- querying (POST /Searchdomain/Query equivalent) ---------------------

    def search(
        self,
        query: str,
        searchdomain: str | None = None,
        topn: int | None = None,
        provider=None,
    ) -> DataFrame:
        """Score every entity against the query text (embedded per model in
        use) and rank (reference Searchdomain.cs:183-210).

        Query embedding goes cache → provider, mirroring the reference's
        GetQueryEmbeddings (Searchdomain.cs:212-235): models whose
        (query, model) embedding is already cached are served from the
        cache with zero provider calls; only the missing models hit the
        provider (one batched call per model), and the fresh embeddings
        are written back to the cache for the next search. ``provider``
        defaults to the engine-level one; None → deterministic
        expression embedder (no cache probe needed — it IS the cache's
        content function)."""
        provider = provider if provider is not None else self.provider
        models = self.models_in_use()
        if provider is None:
            # embed the projected column, not the literal: the embedder's
            # tree then does not depend on the query text
            queries = models.select(
                F.lit(query).alias("query"), "model"
            ).select(
                "query",
                "model",
                deterministic_embedding(
                    F.col("query"), F.col("model"), self.dim
                ).alias("vector"),
            )
        else:
            queries = self._query_embeddings(query, models, provider)
        return search_op.search(self.index_flat, queries, searchdomain, topn)

    def _query_embeddings(
        self, query: str, models: DataFrame, provider
    ) -> DataFrame:
        """Cache-then-provider query embedding (reference
        Searchdomain.GetQueryEmbeddings, Searchdomain.cs:212-235).

        One query string × the (small, by design) models-in-use set is a
        driver-scale problem — the reference resolves it per-request on
        the serving thread. Misses are collected driver-side and embedded
        with one batched provider call per model; results are unioned
        into the shared embedding cache so the next search (or an ingest
        of the same text) is a pure cache hit."""
        from embeddingsearch_spark.functions.text import text_hash

        qh_col = text_hash(F.lit(query))
        cache = self.embedding_cache.withColumn(
            "vector", F.col("vector").cast("array<double>")
        )
        needed = models.select(
            F.lit(query).alias("query"),
            "model",
            qh_col.alias("text_hash"),
        )
        hits = needed.join(cache, ["text_hash", "model"], "inner").select(
            "query", "model", "vector"
        )
        miss_models = [
            r[0]
            for r in needed.join(
                cache, ["text_hash", "model"], "left_anti"
            )
            .select("model")
            .collect()
        ]
        if not miss_models:
            return hits
        fresh_rows = [
            (query, m, [float(x) for x in provider.embed([query], m)[0]])
            for m in sorted(miss_models)
        ]
        fresh = self.spark.createDataFrame(
            fresh_rows, "query string, model string, vector array<double>"
        )
        # Fill the missing (query, model) pairs into the shared cache —
        # the reference's EmbeddingCache.Set / fill-in branch.
        self.embedding_cache = cache.unionByName(
            fresh.select(
                qh_col.alias("text_hash"), "model", "vector"
            )
        ).localCheckpoint(eager=True)
        return hits.unionByName(fresh)

    # -- materialized query results (X1/X2) ---------------------------------

    def materialize_query(
        self, query: str, searchdomain: str | None = None
    ) -> None:
        """Materialize the full ranking for ``query`` (the reference's
        query-cache entry, as a table row-set — X1). Idempotent: an
        existing materialization for the same query is replaced."""
        fresh = self.search(query, searchdomain=searchdomain).withColumn(
            "query", F.lit(query)
        ).select("searchdomain", "query", "entity", "score", "rank")
        if searchdomain is not None:
            self._note_dirty([searchdomain])
        else:
            self._note_dirty(self.index_flat)
        kept = self.query_results.join(
            fresh.select("searchdomain", "query").distinct(),
            ["searchdomain", "query"],
            "left_anti",
        )
        self.query_results = kept.unionByName(fresh).localCheckpoint(
            eager=True
        )

    def cached_queries(self) -> DataFrame:
        """Distinct materialized (searchdomain, query) pairs (the
        reference's GetQueries listing)."""
        return self.query_results.select("searchdomain", "query").distinct()

    def read_results(
        self, query: str, searchdomain: str | None = None, topn: int | None = None
    ) -> DataFrame:
        """Read a materialized ranking; topN over the FULL ranking
        (declared deviation from the reference's truncated cache)."""
        from embeddingsearch_spark.operators import query_cache

        return query_cache.read_results(
            self.query_results, query=query, searchdomain=searchdomain, topn=topn
        )

    def _reconcile_query_results(self, touched: DataFrame) -> None:
        """X2: re-score ONLY touched entities for every materialized
        (searchdomain, query) pair — never in a domain that did not
        materialize the query (the reference's per-domain QueryCache).

        Fully set-based: query vectors are derived from the cached-query
        DataFrame itself (deterministic_embedding is a Column expression),
        models broadcast onto it — no ``collect()`` of query strings, no
        per-query plan growth. At the reference's default cache size
        (1M queries/domain, SearchdomainModels.cs:98) the old driver-side
        loop would OOM the driver and build a million-way union plan."""
        from embeddingsearch_spark.operators import query_cache

        if not self.query_results.head(1):
            return
        qvecs = (
            self.cached_queries()
            .crossJoin(F.broadcast(self.models_in_use()))
            .select(
                "searchdomain",
                "query",
                "model",
                deterministic_embedding(
                    F.col("query"), F.col("model"), self.dim
                ).alias("vector"),
            )
        )
        self.query_results = query_cache.incremental_refresh(
            self.query_results,
            self.index_flat.withColumn(
                "vector", F.col("vector").cast("array<double>")
            ),
            qvecs,
            touched,
        ).localCheckpoint(eager=True)

    # -- searchdomain management (reference SearchdomainController.cs:54-265,
    #    DatabaseHelper.cs:291-397) --------------------------------------------

    def create_searchdomain(
        self, name: str, settings: SearchdomainSettings | None = None
    ) -> SearchdomainSettings:
        """Register a searchdomain with settings; a non-positive query
        cache size falls back to the reference's 1M default
        (SearchdomainController.cs:58-60)."""
        if name in self._settings:
            raise ValueError(f"searchdomain {name!r} already exists")
        settings = settings or SearchdomainSettings()
        if settings.query_cache_size <= 0:
            settings.query_cache_size = 1_000_000
        self._settings[name] = settings
        return settings

    def get_settings(self, name: str) -> SearchdomainSettings:
        """Settings read (GET /Searchdomain/Settings)."""
        if name not in self._settings:
            raise KeyError(f"searchdomain {name!r} not found")
        return self._settings[name]

    def update_settings(
        self, name: str, settings: SearchdomainSettings
    ) -> SearchdomainSettings:
        """Settings write (PUT /Searchdomain/Settings) — trimming the
        query-cache capacity evicts materialized queries beyond it (the
        reference resizes its LRU cache on this call)."""
        if name not in self._settings:
            raise KeyError(f"searchdomain {name!r} not found")
        self._settings[name] = settings
        n = settings.query_cache_size
        if n > 0 and self.query_results.head(1):
            w = F.row_number().over(
                Window.partitionBy("searchdomain").orderBy("query")
            )
            keep = (
                self.cached_queries()
                .filter(F.col("searchdomain") == name)
                .withColumn("_qpos", w)
                .filter(F.col("_qpos") <= n)
                .select("searchdomain", "query")
            )
            others = self.query_results.filter(F.col("searchdomain") != name)
            self.query_results = others.unionByName(
                self.query_results.join(keep, ["searchdomain", "query"], "left_semi")
            ).localCheckpoint(eager=True)
            self._note_dirty([name])
        return settings

    def rename_searchdomain(self, name: str, new_name: str) -> None:
        """PUT /Searchdomain: rename across index, cache state, results."""
        if new_name in self._settings:
            raise ValueError(f"searchdomain {new_name!r} already exists")
        ren = F.when(
            F.col("searchdomain") == name, F.lit(new_name)
        ).otherwise(F.col("searchdomain"))
        self.index_flat = self.index_flat.withColumn(
            "searchdomain", ren
        ).localCheckpoint(eager=True)
        self.query_results = self.query_results.withColumn(
            "searchdomain", ren
        ).localCheckpoint(eager=True)
        if name in self._settings:
            self._settings[new_name] = self._settings.pop(name)
        # Old partition is now empty (directory removed at save); new one
        # is written fresh.
        self._note_dirty([name, new_name])

    def delete_searchdomain(self, name: str) -> int:
        """DELETE /Searchdomain: drop the domain's entities, materialized
        results, and settings; returns the deleted-entity count."""
        doomed = self.index_flat.filter(F.col("searchdomain") == name)
        n = doomed.select("entity").distinct().count()
        self.index_flat = self.index_flat.filter(
            F.col("searchdomain") != name
        ).localCheckpoint(eager=True)
        self.query_results = self.query_results.filter(
            F.col("searchdomain") != name
        ).localCheckpoint(eager=True)
        self._settings.pop(name, None)
        self._note_dirty([name])
        return n

    def list_searchdomains(self) -> DataFrame:
        """GET /Searchdomain: registered domains ∪ domains with indexed
        entities."""
        registered = self.spark.createDataFrame(
            [(d,) for d in self._settings] or [], "searchdomain string"
        )
        return (
            self.index_flat.select("searchdomain")
            .distinct()
            .unionByName(registered)
            .distinct()
        )

    def invalidate_query_cache(self, name: str) -> None:
        """POST /Searchdomain/InvalidateCache: drop the domain's
        materialized query results."""
        self.query_results = self.query_results.filter(
            F.col("searchdomain") != name
        ).localCheckpoint(eager=True)
        self._note_dirty([name])

    def query_cache_stats(self, name: str) -> dict:
        """GET /Searchdomain/QueryCacheSize shape: element count, capacity,
        and the materialized result bytes (SearchdomainResults.cs:45-53)."""
        sub = self.query_results.filter(F.col("searchdomain") == name)
        row = sub.agg(
            F.countDistinct("query").alias("n"),
            F.coalesce(
                F.sum(
                    F.octet_length("query")
                    + F.octet_length("entity")
                    + F.lit(12)  # score double + rank int
                ),
                F.lit(0),
            ).alias("bytes"),
        ).head()
        cap = self._settings.get(name, SearchdomainSettings()).query_cache_size
        return {
            "element_count": int(row["n"]),
            "element_max_count": cap,
            "size_bytes": int(row["bytes"]),
        }

    def database_size(self, name: str | None = None) -> DataFrame:
        """Per-table stored-bytes breakdown, the engine's equivalent of the
        reference's per-table SUM(LENGTH(...)) accounting
        (DatabaseHelper.cs:291-397)."""
        idx = self.index_flat
        qr = self.query_results
        if name is not None:
            idx = idx.filter(F.col("searchdomain") == name)
            qr = qr.filter(F.col("searchdomain") == name)
        return database_size_breakdown(idx, qr)

    # -- snapshot-diff reindex (T4 Changed/Deleted, reference
    #    Calls.cs:313-435 FileSystemWatcher semantics) ----------------------

    def reindex_dir(
        self,
        path: str,
        searchdomain: str = "default",
        models: list[str] | None = None,
        path_glob: str | None = None,
        recursive: bool = False,
    ) -> dict:
        """One-pass create+modify+delete reconciliation of a directory
        against the index. Spark's file stream source is append-only
        (Created events); Changed/Deleted need a snapshot diff — this is
        the batch equivalent of the reference's FileSystemWatcher
        (Calls.cs:313-435), using the reference's own change predicate:
        compare stored text hashes (SearchdomainHelper.cs:229-245).

          - new file        → entity absent from index        → upsert
          - changed file    → any datapoint's text_hash drift → upsert
            (wholesale entity replace via the MERGE path; unchanged
            datapoints re-embed for free through the embedding cache)
          - deleted file    → indexed entity absent on disk   → delete

        Unchanged files are skipped entirely — no merge, no reconcile
        churn. All diffs are set operations on (entity, datapoint,
        text_hash) keys; vectors never join the diff."""
        from embeddingsearch_spark.functions.text import text_hash
        from embeddingsearch_spark.sources.files import read_text_dir

        current = read_text_dir(
            self.spark,
            path,
            searchdomain=searchdomain,
            models=models,
            path_glob=path_glob,
            recursive=recursive,
        ).localCheckpoint(eager=True)  # one dir listing serves every diff

        from embeddingsearch_spark.operators.reindex import snapshot_diff

        cur_keys = current.select(
            "searchdomain",
            "entity",
            "datapoint",
            text_hash(F.col("text")).alias("text_hash"),
        )
        idx_keys = self.index_flat.filter(
            F.col("searchdomain") == searchdomain
        ).select("searchdomain", "entity", "datapoint", "text_hash")
        diff = snapshot_diff(cur_keys, idx_keys).localCheckpoint(eager=True)
        changed = diff.filter(
            F.col("status").isin("new", "changed")
        ).select("searchdomain", "entity")
        deleted = diff.filter(F.col("status") == "deleted").select(
            "searchdomain", "entity"
        )
        n_changed = changed.count()
        n_deleted = deleted.count()
        if n_changed:
            self.index_entities(
                current.join(changed, ["searchdomain", "entity"], "left_semi")
            )
        if n_deleted:
            self.delete_entities(deleted)
        return {"upserted_entities": n_changed, "deleted_entities": n_deleted}

    # -- surface parity with the reference Client ---------------------------

    def list_entities(self, searchdomain: str | None = None) -> DataFrame:
        """/Entities list shape (reference EntityController.cs:42-86)."""
        df = self.index_flat
        if searchdomain is not None:
            df = df.filter(F.col("searchdomain") == searchdomain)
        return df.groupBy("searchdomain", "entity", "entity_probmethod").agg(
            F.countDistinct("datapoint").alias("n_datapoints"),
            F.count(F.lit(1)).alias("n_embeddings"),
            F.array_sort(F.collect_set("model")).alias("models"),
        )

    def list_entities_full(
        self,
        searchdomain: str | None = None,
        return_models: bool = False,
        return_embeddings: bool = False,
    ) -> DataFrame:
        """The reference's full nested /Entities projection
        (EntityController.cs:42-86): per entity, a datapoints array of
        (name, probmethod, simmethod[, embeddings: (model[, vector])]).
        ``return_embeddings`` requires ``return_models`` — the reference
        400s on the inconsistent combination."""
        if return_embeddings and not return_models:
            raise ValueError("return_embeddings requires return_models")
        df = self.index_flat
        if searchdomain is not None:
            df = df.filter(F.col("searchdomain") == searchdomain)
        if return_models:
            emb = F.struct(
                F.col("model"),
                (
                    F.col("vector")
                    if return_embeddings
                    else F.lit(None).cast("array<double>")
                ).alias("vector"),
            )
            per_dp = df.groupBy(
                "searchdomain", "entity", "entity_probmethod",
                "datapoint", "dp_probmethod", "simmethod",
            ).agg(F.array_sort(F.collect_list(emb)).alias("embeddings"))
        else:
            per_dp = df.select(
                "searchdomain", "entity", "entity_probmethod",
                "datapoint", "dp_probmethod", "simmethod",
            ).distinct().withColumn(
                "embeddings",
                F.lit(None).cast(
                    "array<struct<model:string,vector:array<double>>>"
                ),
            )
        dp = F.struct(
            F.col("datapoint"),
            F.col("dp_probmethod"),
            F.col("simmethod"),
            F.col("embeddings"),
        )
        return per_dp.groupBy(
            "searchdomain", "entity", "entity_probmethod"
        ).agg(F.array_sort(F.collect_list(dp)).alias("datapoints"))

    def models_in_use(self) -> DataFrame:
        """Distinct models (reference Searchdomain.cs:260-282)."""
        return self.index_flat.select("model").distinct()

    def stats(self) -> DataFrame:
        """Per-domain size stats (reference ServerController stats)."""
        return self.index_flat.groupBy("searchdomain").agg(
            F.countDistinct("entity").alias("n_entities"),
            F.count(F.lit(1)).alias("n_embeddings"),
            F.sum(F.size("vector")).alias("total_floats"),
        )

    # -- persistence ---------------------------------------------------------

    def save(self, path: str, incremental: bool | None = None) -> None:
        """Persist the engine state partitioned by searchdomain (the
        100-TB layout: partition pruning replaces the reference's
        per-domain caches).

        MERGE semantics (SURVEY §1.6; the reference's own trajectory,
        DatabaseMigrations.cs:117-157): when saving back to the same
        ``path`` this engine last saved to or loaded from, only the
        searchdomain partitions touched since then are rewritten (dynamic
        partition overwrite), partitions whose row-set became empty have
        their directories removed, and the embedding cache — append-only
        by construction (index_entities only ever adds misses) — gets a
        key-anti-joined delta appended. Ingest cost scales with the
        BATCH, not the corpus: untouched partition files are never read
        or written (byte-identical after the save — plan/filesystem
        tested).

        ``incremental`` forces the mode; default auto-detects (same path
        + provenance tracked)."""
        from embeddingsearch_spark import storage

        inc = (
            incremental
            if incremental is not None
            else (path == self._save_root and self._dirty is not None)
        )
        if not inc:
            self._pin_reads_under(
                path, ("index_flat", "embedding_cache", "query_results")
            )
            self.index_flat.write.partitionBy("searchdomain").mode(
                "overwrite"
            ).parquet(f"{path}/index_flat")
            self.embedding_cache.write.mode("overwrite").parquet(
                f"{path}/embedding_cache"
            )
            if self.query_results.head(1):
                self.query_results.write.partitionBy("searchdomain").mode(
                    "overwrite"
                ).parquet(f"{path}/query_results")
            self._save_root = path
            self._dirty = set()
            return

        dirty = sorted(self._dirty)
        if dirty:
            self._pin_reads_under(path, ("index_flat", "query_results"))
            for table in ("index_flat", "query_results"):
                tpath = f"{path}/{table}"
                df = getattr(self, table)
                changed = df.filter(F.col("searchdomain").isin(dirty))
                if table == "query_results" and not (
                    changed.head(1) or self._saved_table_exists(tpath)
                ):
                    continue  # nothing materialized, nothing persisted
                present = {
                    r[0]
                    for r in changed.select("searchdomain")
                    .distinct()
                    .collect()
                }
                storage.overwrite_partitions(
                    changed, tpath, ["searchdomain"]
                )
                storage.remove_partition_dirs(
                    tpath, "searchdomain", sorted(set(dirty) - present)
                )
        # Embedding cache delta: the cache only ever grows (misses are
        # appended at index time), so MERGE = append rows whose
        # (text_hash, model) key is not yet on disk, cast to the on-disk
        # vector dtype so mixed files never need schema merging.
        cache_path = f"{path}/embedding_cache"
        ondisk = self.spark.read.parquet(cache_path)
        delta = self.embedding_cache.join(
            ondisk.select("text_hash", "model"),
            ["text_hash", "model"],
            "left_anti",
        )
        if delta.head(1):
            vec_type = ondisk.schema["vector"].dataType
            delta.withColumn(
                "vector", F.col("vector").cast(vec_type)
            ).write.mode("append").parquet(cache_path)
        self._dirty = set()

    def _pin_reads_under(self, path: str, tables) -> None:
        """Pin (and serve from) each of ``tables`` that still lazily
        scans its files under ``path``, which the save will replace."""
        for table in tables:
            df = getattr(self, table)
            if _reads_under(df, f"{path}/{table}"):
                setattr(self, table, df.localCheckpoint(eager=True))

    def _saved_table_exists(self, tpath: str) -> bool:
        import os

        return os.path.isdir(tpath)

    def load(self, path: str) -> None:
        self.index_flat = self.spark.read.parquet(f"{path}/index_flat")
        self.embedding_cache = self.spark.read.parquet(f"{path}/embedding_cache")
        if self._saved_table_exists(f"{path}/query_results"):
            self.query_results = self.spark.read.parquet(
                f"{path}/query_results"
            )
        self._save_root = path
        self._dirty = set()
