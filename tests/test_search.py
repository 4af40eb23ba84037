"""End-to-end cascade test on a hand-built corpus: replicate the full
two-level fold in NumPy and compare (SURVEY.md §5 plan item 2)."""

from __future__ import annotations

import numpy as np
import pytest

from embeddingsearch_spark.operators import search as S
from tests import numpy_oracle as NP

RNG = np.random.default_rng(11)
DIM = 16

# corpus: 3 entities × 2 datapoints × 2 models, heterogeneous methods.
ENTITIES = {
    "e1": ("Mean", {"dpA": ("Cosine", "Mean"), "dpB": ("Euclidian", "HarmonicMean")}),
    "e2": ("HVEWAvg", {"dpA": ("Pearson", "QuadraticMean"), "dpB": ("Manhattan", "Mean")}),
    "e3": ("GeometricMean", {"dpA": ("Cosine", "LVEWAvg"), "dpB": ("Cosine", "Mean")}),
}
MODELS = ["m1", "m2"]


def _vec():
    return [float(x) for x in RNG.normal(size=DIM)]


CORPUS = [
    ("sd", ent, epm, dp, dpm, sim, "h", model, _vec())
    for ent, (epm, dps) in ENTITIES.items()
    for dp, (sim, dpm) in dps.items()
    for model in MODELS
]
CORPUS_SCHEMA = (
    "searchdomain string, entity string, entity_probmethod string, "
    "datapoint string, dp_probmethod string, simmethod string, "
    "text_hash string, model string, vector array<double>"
)
QUERY = [("q1", m, _vec()) for m in MODELS]


def _numpy_expected(qv=None):
    qv = qv or {m: v for _, m, v in QUERY}
    scores = {}
    for ent, (epm, dps) in ENTITIES.items():
        dp_scores, dp_keys = [], []
        for dp, (sim, dpm) in dps.items():
            sims = []
            for model in MODELS:
                row = next(
                    r for r in CORPUS if r[1] == ent and r[3] == dp and r[7] == model
                )
                sims.append(NP.KERNELS[sim](row[8], qv[model]))
            dp_scores.append(NP.PROBMETHODS[dpm](sims, keys=MODELS, weights={}))
            dp_keys.append(dp)
        scores[ent] = NP.PROBMETHODS[epm](dp_scores, keys=dp_keys, weights={})
    return scores


def test_cascade_matches_numpy(spark):
    corpus = spark.createDataFrame(CORPUS, CORPUS_SCHEMA)
    queries = spark.createDataFrame(QUERY, "query string, model string, vector array<double>")
    got = {
        r["entity"]: (r["score"], r["rank"])
        for r in S.search(corpus, queries).collect()
    }
    want = _numpy_expected()
    for ent, score in want.items():
        assert got[ent][0] == pytest.approx(round(score, 6), abs=2e-6), ent
    # ranking: scores desc, deterministic
    ranked = sorted(got.items(), key=lambda kv: kv[1][1])
    assert [r[1][0] for r in ranked] == sorted(
        (r[1][0] for r in ranked), reverse=True
    )


def test_topn_applied_at_read_time(spark):
    corpus = spark.createDataFrame(CORPUS, CORPUS_SCHEMA)
    queries = spark.createDataFrame(QUERY, "query string, model string, vector array<double>")
    assert S.search(corpus, queries, topn=2).count() == 2
    assert S.search(corpus, queries, topn=None).count() == 3


def _py4j_commands(monkeypatch, build):
    """Run ``build()`` and return (its result, the py4j commands it sent),
    counted by wrapping the gateway client's ``send_command``."""
    import gc
    import threading

    from pyspark import SparkContext

    client = SparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    sent = []

    def counting(command, *args, **kwargs):
        # py4j's finalizer thread releases the JVM side of freed objects
        # through the same client, whenever it drains its queue; count
        # only what the build itself sends
        if threading.get_ident() == caller:
            sent.append(command)
        return send(command, *args, **kwargs)

    # collect earlier garbage first so only this build's objects are live
    gc.collect()
    gc.disable()
    try:
        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counting)
            out = build()
    finally:
        gc.enable()
    return out, len(sent)


def test_engine_search_builds_only_query_dependent_nodes(spark, monkeypatch):
    """A warm `Engine.search` build adds only the query-dependent nodes:
    the cascade's fixed Column trees are built once and the embedder is
    one transform, so the build issues a few hundred py4j commands (the
    unrolled trees took about 8,000). Its ranking matches NumPy over the
    same vectors."""
    from embeddingsearch_spark.api import Engine
    from embeddingsearch_spark.sources.embedder import _embed_one

    eng = Engine(spark, dim=DIM)
    eng.index_flat = spark.createDataFrame(CORPUS, CORPUS_SCHEMA)
    eng.search("warm up", "sd", 3)

    df, n_sent = _py4j_commands(
        monkeypatch, lambda: eng.search("hello world", "sd", 3)
    )
    assert n_sent <= 600, n_sent

    want = _numpy_expected(
        {m: _embed_one("hello world", m, DIM) for m in MODELS}
    )
    got = sorted(df.collect(), key=lambda r: r["rank"])
    assert [r["entity"] for r in got] == sorted(
        want, key=lambda e: (-round(want[e], 6), e)
    )
    for r in got:
        assert r["score"] == pytest.approx(round(want[r["entity"]], 6), abs=2e-6)


def test_ivf_serve_build_command_count(spark, monkeypatch):
    """A warm federated IVF build at ``nprobe="auto"`` in serve_mix's
    request shape (4 embedded queries over 3 tenants) stays within about
    10% of the 919 py4j commands it took when each IVF layout had its own
    serve. The rule width probes all 4 cells of every tenant here, so
    the ranking is NumPy's exact per-tenant top-k."""
    from pyspark.sql import functions as F

    from embeddingsearch_spark import tables
    from embeddingsearch_spark.operators import ann
    from embeddingsearch_spark.sources.embedder import (
        _embed_one,
        deterministic_embedding,
    )
    from embeddingsearch_spark.storage import drop_table

    tenants = ("t0", "t1", "t2")
    rng = np.random.default_rng(5)
    vecs = {i: rng.normal(size=DIM) for i in range(60)}
    emb = spark.createDataFrame(
        [(i, tenants[i % 3], v.tolist()) for i, v in vecs.items()],
        "vec_id long, source string, embedding array<double>",
    )
    cents = emb.filter(F.col("vec_id") < 12).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    pre = "es_test_ivf_build"
    for t in ("_assigned", "_centroids"):
        drop_table(spark, pre + t)
    ann.save_federated_ivf_index(
        ann.assign_centroids_federated(emb, cents), cents, pre, n_buckets=2
    )
    qrows = [(100 + j, f"query {j}", tenants[j % 3]) for j in range(4)]
    qdf = tables.literal_frame(
        spark, qrows, "query_id long, text string, source string"
    )
    vec = deterministic_embedding(F.col("text"), F.lit("m1"), DIM)
    queries = qdf.select("query_id", vec.alias("embedding"))
    route = qdf.select("query_id", "source")

    def build():
        return ann.ivf_federated_from_index(
            spark, pre, queries, route, k=5, nprobe="auto"
        )

    build()
    df, n_sent = _py4j_commands(monkeypatch, build)
    assert n_sent <= 1010, n_sent

    want = set()
    for qid, text, t in qrows:
        qv = np.array(_embed_one(text, "m1", DIM))
        ids = [i for i in vecs if tenants[i % 3] == t]
        cos = {
            i: round(
                (qv @ vecs[i] / np.linalg.norm(qv) / np.linalg.norm(vecs[i]) + 1)
                / 2,
                6,
            )
            for i in ids
        }
        top = sorted(ids, key=lambda i: (-cos[i], i))[:5]
        want |= {(qid, i, r + 1) for r, i in enumerate(top)}
    got = {(r["query_id"], r["vec_id"], r["rank"]) for r in df.collect()}
    assert got == want
