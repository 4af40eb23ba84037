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


def test_engine_search_builds_only_query_dependent_nodes(spark, monkeypatch):
    """A warm `Engine.search` build adds only the query-dependent nodes:
    the cascade's fixed Column trees are built once and the embedder is
    one transform, so the build issues a few hundred py4j commands (the
    unrolled trees took about 8,000). Its ranking matches NumPy over the
    same vectors."""
    import gc

    from pyspark import SparkContext

    from embeddingsearch_spark.api import Engine
    from embeddingsearch_spark.sources.embedder import _embed_one

    eng = Engine(spark, dim=DIM)
    eng.index_flat = spark.createDataFrame(CORPUS, CORPUS_SCHEMA)
    eng.search("warm up", "sd", 3)

    client = SparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    # py4j releases the JVM side of collected objects with commands of its
    # own; collect earlier garbage first so only this build is counted
    gc.collect()
    gc.disable()
    try:
        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counting)
            df = eng.search("hello world", "sd", 3)
    finally:
        gc.enable()
    assert len(sent) <= 600, len(sent)

    want = _numpy_expected(
        {m: _embed_one("hello world", m, DIM) for m in MODELS}
    )
    got = sorted(df.collect(), key=lambda r: r["rank"])
    assert [r["entity"] for r in got] == sorted(
        want, key=lambda e: (-round(want[e], 6), e)
    )
    for r in got:
        assert r["score"] == pytest.approx(round(want[r["entity"]], 6), abs=2e-6)
