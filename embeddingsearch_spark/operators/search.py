"""The search operator: the reference's two-level scoring cascade as one
declarative DataFrame pipeline (reference Searchdomain.cs:183-258).

    score(entity) = PM_ent( [(dp, PM_dp( [(model, sim(q[model], v))] ))] )

Plan shape (SURVEY.md §3.1 Spark trace):
    corpus scan (partition-pruned by searchdomain)
      → BROADCAST join with query vectors on model          (J4)
      → per-row simmethod dispatch, JVM higher-order funcs  (A1-A4)
      → groupBy(entity, datapoint) partial+final hash agg   (PM_dp)
      → groupBy(entity) hash agg                            (PM_ent)
      → rank per (searchdomain, query)                      (O1/O2)

At 100 TB: exactly TWO shuffles (plan-asserted in test_plans.py). The
first agg shuffles on its full (searchdomain, entity, …, datapoint) key
— the high-cardinality stage keeps every core busy. The output is then
explicitly repartitioned on (searchdomain, query): hash partitioning on
a SUBSET of the grouping keys satisfies the entity fold's clustering
requirement AND is exactly the rank window's partitioning, so the
second agg and the window share that single exchange (without it,
Catalyst inserts one exchange per stage — measured 3 at 500k corpus
rows). The query side is tiny (rows = queries × models) and is always
broadcast — no shuffle of the corpus for the join; the explicit hint
holds at any scale (verified at N=250: BroadcastHashJoin, no
SortMergeJoin).

topN is applied at read time over the full ranking (declared deviation from
the reference's stale-truncated query cache — SURVEY.md §2.6).

Plan construction is a cost: the similarity dispatch and the two folds
are query-independent Column trees of thousands of nodes, and building
one node is one py4j round trip. They are built once per JVM gateway
(:func:`_cascade_column`) and reused by every search and reconcile.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from embeddingsearch_spark.constants import ROUND_DIGITS
from embeddingsearch_spark.functions.probmethods import (
    dwa_weight,
    probmethod_dispatch_agg,
)
from embeddingsearch_spark.functions.similarity import similarity_dispatch

# The cascade's query-independent Columns, by the name of the column each
# one becomes; every input is a fixed column of the cascade's frames.
_CASCADE = {
    "sim": lambda: similarity_dispatch(
        F.col("simmethod"), F.col("vector"), F.col("qvec")
    ),
    "w": lambda: dwa_weight(F.col("dp_probmethod"), F.col("model")),
    "dp_score": lambda: probmethod_dispatch_agg(
        F.col("sim"), F.col("dp_probmethod"), F.col("w")
    ),
    "w2": lambda: dwa_weight(F.col("entity_probmethod"), F.col("datapoint")),
    "score": lambda: probmethod_dispatch_agg(
        F.col("dp_score"), F.col("entity_probmethod"), F.col("w2")
    ),
}


@functools.lru_cache(maxsize=4 * len(_CASCADE))
def _built(gateway, name: str) -> Column:
    return _CASCADE[name]()


def _cascade_column(name: str) -> Column:
    """The cascade Column ``name``, built on first use. Keyed on the live
    gateway: a Column holds a JVM object, so a restarted gateway builds
    its own instead of reusing a dead one."""
    return _built(SparkContext._gateway, name)


def score_pairs(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """corpus (index_flat shape) × queries (query, model, vector) →
    one row per (corpus row, query) with the dispatched similarity.
    When ``queries`` also carries a searchdomain column, each query
    scores only the rows of its own domain."""
    keys = ["model"] + (
        ["searchdomain"] if "searchdomain" in queries.columns else []
    )
    q = F.broadcast(
        queries.select(*keys, "query", F.col("vector").alias("qvec"))
    )
    j = corpus.join(q, keys, "inner")
    return j.select(
        "searchdomain",
        "entity",
        "entity_probmethod",
        "datapoint",
        "dp_probmethod",
        "model",
        "query",
        _cascade_column("sim").alias("sim"),
    )


def datapoint_scores(scored: DataFrame) -> DataFrame:
    """First fold: per (entity, datapoint, query), fold per-model sims with
    the datapoint's probmethod (reference Searchdomain.cs:247-255)."""
    return (
        scored.withColumn("w", _cascade_column("w"))
        .groupBy(
            "searchdomain",
            "entity",
            "entity_probmethod",
            "query",
            "datapoint",
            "dp_probmethod",
        )
        .agg(_cascade_column("dp_score").alias("dp_score"))
    )


def entity_scores(dp_scores: DataFrame) -> DataFrame:
    """Second fold: per (entity, query), fold datapoint scores with the
    entity's probmethod (reference Searchdomain.cs:256-257)."""
    return (
        dp_scores.withColumn("w2", _cascade_column("w2"))
        .groupBy("searchdomain", "entity", "query", "entity_probmethod")
        .agg(_cascade_column("score").alias("score"))
    )


def rank_results(scores: DataFrame, topn: int | None = None) -> DataFrame:
    """Rank per (searchdomain, query) by rounded score DESC, entity ASC
    (deterministic tiebreak — declared deviation, SURVEY.md §2.6).

    Ranking over the ROUNDED score quantizes float noise so independently
    computed pipelines produce identical ranks.
    """
    rounded = F.round(F.col("score"), ROUND_DIGITS)
    w = Window.partitionBy("searchdomain", "query").orderBy(
        rounded.desc(), F.col("entity").asc()
    )
    out = scores.select(
        "searchdomain",
        "query",
        "entity",
        rounded.alias("score"),
    ).withColumn("rank", F.row_number().over(w))
    if topn is not None:
        out = out.filter(F.col("rank") <= topn)
    return out


def search(
    corpus: DataFrame,
    queries: DataFrame,
    searchdomain: str | None = None,
    topn: int | None = None,
) -> DataFrame:
    """Full pipeline: `Search(query, topN)` for every query row at once
    (reference SearchdomainController.cs:158-171, batched)."""
    if searchdomain is not None:
        corpus = corpus.filter(F.col("searchdomain") == searchdomain)
    scored = score_pairs(corpus, queries)
    # One exchange serves BOTH remaining stages: (searchdomain, query) is
    # a subset of the entity fold's grouping keys (subset hash
    # partitioning satisfies ClusteredDistribution) and is the rank
    # window's exact partitioning — see module docstring.
    dp = datapoint_scores(scored).repartition("searchdomain", "query")
    return rank_results(entity_scores(dp), topn)
