"""Engine-level query-result reconciliation: after entity upserts and
deletes, materialized rankings equal a fresh full search over the updated
index (the reference's cache-reconciliation contract)."""

from __future__ import annotations

from pyspark.sql import functions as F

from embeddingsearch_spark.api import Engine

INGEST_SCHEMA = (
    "searchdomain string, entity string, entity_probmethod string, "
    "attributes map<string,string>, datapoint string, dp_probmethod string, "
    "simmethod string, text string, models array<string>"
)


def _rows(spark, texts: dict[str, str], domain: str = "sd"):
    return spark.createDataFrame(
        [
            (domain, ent, "Mean", None, "text", "Mean", "Cosine", txt,
             ["mock:modelA"])
            for ent, txt in texts.items()
        ],
        INGEST_SCHEMA,
    )


def _full(eng, query):
    return sorted(
        map(tuple, eng.search(query).select(
            "searchdomain", "entity", "score", "rank").collect())
    )


def _cached(eng, query):
    return sorted(
        map(tuple, eng.read_results(query).select(
            "searchdomain", "entity", "score", "rank").collect())
    )


def test_reconcile_after_update_insert_delete(spark):
    eng = Engine(spark, dim=8)
    eng.index_entities(
        _rows(spark, {"e1": "alpha text", "e2": "beta text", "e3": "gamma"})
    )
    eng.materialize_query("alpha probe")
    eng.materialize_query("beta probe")
    assert _cached(eng, "alpha probe") == _full(eng, "alpha probe")

    # update e2's text, insert e4 — cached rankings repair incrementally
    eng.index_entities(_rows(spark, {"e2": "changed beta", "e4": "delta"}))
    for q in ("alpha probe", "beta probe"):
        assert _cached(eng, q) == _full(eng, q), q

    # delete e1 — its rows leave the rankings, ranks close up
    eng.delete_entities(
        spark.createDataFrame([("sd", "e1")], "searchdomain string, entity string")
    )
    for q in ("alpha probe", "beta probe"):
        assert _cached(eng, q) == _full(eng, q), q
    assert all(r.entity != "e1" for r in eng.read_results("alpha probe").collect())
    assert eng.cached_queries().count() == 2


def test_reconcile_touches_only_materialized_domains(spark):
    """An upsert re-scores a query only in the domains that materialized
    it: a domain that never materialized the query, and a
    ``cache_reconciliation=False`` domain whose results the upsert just
    invalidated, both stay without rows for it."""
    from embeddingsearch_spark.api import SearchdomainSettings

    eng = Engine(spark, dim=8)
    eng.create_searchdomain(
        "sd_off", SearchdomainSettings(cache_reconciliation=False)
    )
    eng.index_entities(_rows(spark, {"a1": "a1 text", "a2": "a2 more"}, "sdA"))
    eng.index_entities(_rows(spark, {"o1": "off one"}, "sd_off"))
    eng.materialize_query("a1 text")  # every domain present: sdA, sd_off
    eng.index_entities(_rows(spark, {"b1": "b1 text"}, "sdB"))
    eng.index_entities(_rows(spark, {"o2": "off two"}, "sd_off"))
    got = {
        (r["searchdomain"], r["entity"])
        for r in eng.query_results.collect()
    }
    assert got == {("sdA", "a1"), ("sdA", "a2")}, got
    assert _cached(eng, "a1 text") == sorted(
        map(tuple, eng.search("a1 text", "sdA").select(
            "searchdomain", "entity", "score", "rank").collect())
    )


def test_reconcile_is_set_based_at_1k_queries(spark):
    """Reconciliation must scale with the CACHED-QUERY TABLE, not with a
    driver-side loop: seed ~1k materialized queries, upsert entities, and
    check a sample of rankings equals a fresh full search. With the old
    collect()+unionByName-per-query implementation this test builds a
    1000-way union plan and times out; set-based reconciliation handles it
    in one pass."""
    eng = Engine(spark, dim=8)
    eng.index_entities(
        _rows(spark, {"e1": "alpha text", "e2": "beta text", "e3": "gamma"})
    )
    # Seed 1k cached queries directly (placeholder rankings — reconcile
    # re-scores every touched entity, and the upsert below touches all).
    eng.query_results = spark.range(1000).select(
        F.lit("sd").alias("searchdomain"),
        F.concat(F.lit("probe "), F.col("id")).alias("query"),
        F.lit("e1").alias("entity"),
        F.lit(0.0).alias("score"),
        F.lit(1).alias("rank"),
    )
    eng.index_entities(
        _rows(
            spark,
            {"e1": "alpha new", "e2": "beta new", "e3": "gamma new"},
        )
    )
    assert eng.cached_queries().count() == 1000
    for q in ("probe 0", "probe 500", "probe 999"):
        assert _cached(eng, q) == _full(eng, q), q


def test_reconcile_store_capacity_evicts_lru(spark):
    """StoreTopN parity (reference CacheHelper.cs:44-49): only the
    `capacity` most-recently-used desired entries persist. Evicted
    entries act as not-desired — store-resident ones classify 'delete',
    absent ones yield no row."""
    from embeddingsearch_spark.operators.upsert import reconcile_store

    store = spark.createDataFrame(
        [("h1", "m"), ("h2", "m"), ("h5", "m")],
        "text_hash string, model string",
    )
    # recency: h4 (40) > h3 (30) > h2 (20) > h1 (10)
    desired = spark.createDataFrame(
        [
            ("h1", "m", 10),
            ("h2", "m", 20),
            ("h3", "m", 30),
            ("h4", "m", 40),
        ],
        "text_hash string, model string, last_access long",
    )
    out = {
        (r["text_hash"], r["model"]): r["action"]
        for r in reconcile_store(
            store, desired, capacity=2, recency_col="last_access"
        ).collect()
    }
    # top-2 by recency: h4 (insert - not in store), h3 (insert)
    # h1, h2 evicted -> store-resident -> delete; h5 never desired
    assert out == {
        ("h4", "m"): "insert",
        ("h3", "m"): "insert",
        ("h2", "m"): "delete",
        ("h1", "m"): "delete",
        ("h5", "m"): "delete",
    }


def test_reconcile_store_capacity_dedups_by_max_recency(spark):
    """Duplicate desired keys collapse to max(recency) BEFORE the cap,
    so a key's oldest touch can't evict its newest."""
    from embeddingsearch_spark.operators.upsert import reconcile_store

    store = spark.createDataFrame([], "text_hash string, model string")
    desired = spark.createDataFrame(
        [
            ("h1", "m", 1),
            ("h1", "m", 50),  # h1 newest touch wins
            ("h2", "m", 20),
            ("h3", "m", 30),
        ],
        "text_hash string, model string, last_access long",
    )
    out = {
        r["text_hash"]: r["action"]
        for r in reconcile_store(
            store, desired, capacity=2, recency_col="last_access"
        ).collect()
    }
    assert out == {"h1": "insert", "h3": "insert"}
