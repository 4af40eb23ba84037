"""Batch index build + Engine API: cache-aware embedding, merge/finalize
semantics, end-to-end index→search round trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from embeddingsearch_spark.api import Engine
from embeddingsearch_spark.operators import index_build
from embeddingsearch_spark.sources.embedder import (
    deterministic_embedding,
    embed_map_in_pandas,
)

INGEST_SCHEMA = (
    "searchdomain string, entity string, entity_probmethod string, "
    "datapoint string, dp_probmethod string, simmethod string, "
    "text string, models array<string>"
)


def _ingest(spark, rows):
    return spark.createDataFrame(rows, INGEST_SCHEMA)


def _rows(
    n, text_fn=lambda i: f"document number {i} about topic {i % 3}", domain="sd"
):
    return [
        (
            domain,
            f"ent_{i}",
            "Mean",
            dp,
            "Mean",
            "Cosine",
            text_fn(i) if dp == "text" else f"{dp} of {i}",
            ["mock:modelA", "mock:modelB"],
        )
        for i in range(n)
        for dp in ("title", "text")
    ]


def test_embedder_paths_agree(spark):
    """Pure-Column embedder and mapInPandas provider path produce identical
    vectors (shared spec)."""
    df = spark.createDataFrame(
        [("hello world", "mock:modelA"), ("hello world", "mock:modelB"),
         ("other", "mock:modelA")],
        "text string, model string",
    )
    col_side = df.select(
        "text", "model",
        deterministic_embedding(F.col("text"), F.col("model"), 8).alias("v"),
    )
    py_side = embed_map_in_pandas(df, dim=8, out_col="v")
    a = {(r["text"], r["model"]): r["v"] for r in col_side.collect()}
    b = {(r["text"], r["model"]): r["v"] for r in py_side.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)
        assert sum(x * x for x in a[k]) == pytest.approx(1.0)  # L2-normalized


def test_embedding_norm_matches_per_element_formula(spark):
    """Dividing by a repeated norm (norm computed once per row) gives the
    same vectors as the per-element transform that recomputes it."""
    from embeddingsearch_spark.sources.embedder import _component

    dim = 32
    df = spark.range(300).select(
        F.concat(F.lit("text number "), F.col("id").cast("string")).alias(
            "text"
        ),
        F.when(F.col("id") % 2 == 0, F.lit("mock:modelA"))
        .otherwise(F.lit("mock:modelB"))
        .alias("model"),
    )
    arr = F.array(
        *[_component(F.col("text"), F.col("model"), k) for k in range(dim)]
    )
    norm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x * x))
    safe = F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)
    out = df.select(
        F.transform(arr, lambda x: x / safe).alias("old"),
        deterministic_embedding(F.col("text"), F.col("model"), dim).alias(
            "new"
        ),
    ).collect()
    assert len(out) == 300
    assert all(r["old"] == r["new"] for r in out)


def test_write_path_reads_caller_batch_once(spark, tmp_path):
    """`index_entities` and `delete_entities` read the caller's frame
    once (its Python-RDD scan bumps an accumulator per row), with the
    dirty set tracked, a materialized query reconciled and a domain that
    opts out of reconciliation invalidated — and give the same state as
    an Engine fed plain frames."""
    from embeddingsearch_spark.api import SearchdomainSettings

    sc = spark.sparkContext

    base = _rows(4, lambda i: f"document {i}") + _rows(
        3, lambda i: f"other {i}", "sd_off"
    )
    batch = _rows(6, lambda i: f"document {i} v2") + _rows(
        2, lambda i: f"other {i}", "sd_off"
    )
    names = [("sd", "ent_1"), ("sd_off", "ent_0"), ("sd", "ent_1")]
    query = "document 2 v2"

    def engine(path):
        e = Engine(spark, dim=8)
        e.create_searchdomain(
            "sd_off", SearchdomainSettings(cache_reconciliation=False)
        )
        e.index_entities(_ingest(spark, base))
        e.materialize_query(query)
        e.save(path)  # tracks the dirty set from here on
        return e

    def counted(rows, schema):
        acc = sc.accumulator(0)

        def bump(r):
            acc.add(1)
            return r

        return spark.createDataFrame(
            sc.parallelize(rows).map(bump), schema
        ), acc

    eng = engine(str(tmp_path / "a"))
    ref = engine(str(tmp_path / "b"))

    ing, acc = counted(batch, INGEST_SCHEMA)
    eng.index_entities(ing)
    assert acc.value == len(batch)
    assert eng._dirty == {"sd", "sd_off"}
    ref.index_entities(_ingest(spark, batch))

    names_schema = "searchdomain string, entity string"
    dels, acc = counted(names, names_schema)
    eng._dirty = set()
    eng.delete_entities(dels)
    assert acc.value == len(names)
    assert eng._dirty == {"sd", "sd_off"}
    ref.delete_entities(spark.createDataFrame(names, names_schema))

    def rows_of(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    idx_cols = ref.index_flat.columns
    assert rows_of(eng.index_flat, idx_cols) == rows_of(
        ref.index_flat, idx_cols
    )
    qr_cols = ["searchdomain", "query", "entity", "score", "rank"]
    got = rows_of(eng.query_results, qr_cols)
    assert got == rows_of(ref.query_results, qr_cols)
    # reconciled in sd (equal to a fresh search without the deleted
    # entity), invalidated in sd_off
    fresh = eng.search(query, "sd").withColumn("query", F.lit(query))
    assert got == rows_of(fresh, qr_cols)
    assert {r[0] for r in got} == {"sd"}
    assert ("sd", "ent_1") not in {(r[0], r[2]) for r in got}
    assert len(got) == 5


def test_build_dedups_and_uses_cache(spark):
    ing = _ingest(spark, _rows(4))
    first = index_build.build_index(ing, embedding_cache=None, dim=8)
    # 4 entities × 2 datapoints × 2 models, all texts distinct
    assert first.n_requested == 16
    assert first.n_embedded == 16
    assert first.n_cache_hits == 0
    assert first.index_flat.count() == 16

    # Re-index the same rows with the cache from round 1 → zero embeddings.
    cache = first.new_cache_entries.select("text_hash", "model", "vector")
    second = index_build.build_index(ing, embedding_cache=cache, dim=8)
    assert second.n_embedded == 0
    assert second.n_cache_hits == 16

    # Change ONE text → exactly its (text, model) pairs re-embed.
    changed = _ingest(
        spark,
        _rows(4, text_fn=lambda i: "CHANGED" if i == 0 else f"document number {i} about topic {i % 3}"),
    )
    third = index_build.build_index(changed, embedding_cache=cache, dim=8)
    assert third.n_embedded == 2  # one new text × two models


def test_merge_and_finalize(spark):
    ing1 = _ingest(spark, _rows(3))
    idx1 = index_build.build_index(ing1, dim=8).index_flat
    # entity 1 re-uploaded with a different probmethod → replaced wholesale
    ing2 = _ingest(
        spark,
        [r if r[1] != "ent_1" else (*r[:2], "HVEWAvg", *r[3:]) for r in _rows(3)],
    ).filter(F.col("entity") == "ent_1")
    idx2 = index_build.build_index(ing2, dim=8).index_flat
    merged = index_build.merge_index(idx1, idx2)
    assert merged.count() == idx1.count()
    pm = (
        merged.filter(F.col("entity") == "ent_1")
        .select("entity_probmethod").distinct().collect()
    )
    assert [r[0] for r in pm] == ["HVEWAvg"]

    # finalize: only ent_0 in the uploaded set → others deleted
    uploaded = spark.createDataFrame(
        [("sd", "ent_0")], "searchdomain string, entity string"
    )
    final = index_build.finalize_session(merged, uploaded)
    assert sorted(
        r[0] for r in final.select("entity").distinct().collect()
    ) == ["ent_0"]


def test_engine_round_trip(spark):
    eng = Engine(spark, dim=8)
    eng.index_entities(_ingest(spark, _rows(5)))
    assert eng.stats().collect()[0]["n_entities"] == 5
    assert eng.models_in_use().count() == 2

    # search for a text that IS a datapoint text → that entity ranks first
    res = eng.search("document number 2 about topic 2", topn=3).collect()
    assert res[0]["entity"] == "ent_2"
    assert res[0]["rank"] == 1

    # delete + list
    eng.delete_entities(
        spark.createDataFrame([("sd", "ent_0")], "searchdomain string, entity string")
    )
    assert eng.list_entities().count() == 4
