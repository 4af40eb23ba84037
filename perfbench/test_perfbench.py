"""Tests of the benchmark itself: every checker accepts a correct result
and rejects a corrupted one, and the smoke mode runs each workload end
to end.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs as I  # noqa: E402
from perfbench import oracle  # noqa: E402
from perfbench.trace import module_of, union_s  # noqa: E402


def _words(seed=3):
    return I.Words(np.random.default_rng(seed), I.SMOKE)


@pytest.fixture(scope="module")
def corpus():
    return I.make_corpus(_words(), 2, 16)


def _search_rows(cascade, q, sd, topn):
    scores = cascade.scores(q, sd)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:topn]
    return [
        {"searchdomain": sd, "query": q, "entity": e, "score": s, "rank": i + 1}
        for i, (e, s) in enumerate(ranked)
    ]


def test_embed_is_normalised_and_deterministic():
    v = I.embed("t1 t2", I.MODELS[0])
    assert v.shape == (I.DIM,)
    assert abs(float(v @ v) - 1.0) < 1e-12
    assert np.array_equal(v, I.embed("t1 t2", I.MODELS[0]))
    assert not np.array_equal(v, I.embed("t1 t2", I.MODELS[1]))


def test_corpus_covers_every_method_pair():
    ents = I.make_corpus(_words(), 4, 120)
    pairs = {(e.entity_probmethod, pm) for e in ents for pm, _, _ in e.datapoints.values()}
    sims = {sim for e in ents for _, sim, _ in e.datapoints.values()}
    assert len(pairs) == 64 and len(sims) == 4


def test_same_seed_same_inputs():
    a = [I.doc_text(e) for e in I.make_corpus(_words(7), 2, 10)]
    b = [I.doc_text(e) for e in I.make_corpus(_words(7), 2, 10)]
    c = [I.doc_text(e) for e in I.make_corpus(_words(8), 2, 10)]
    assert a == b and a != c


def test_search_checker(corpus):
    cascade = oracle.Cascade(corpus)
    q, sd = "t1 t3 t5", "sd_1"
    rows = _search_rows(cascade, q, sd, 10)
    assert oracle.check_search(cascade, q, sd, rows, 10) == []

    bad = copy.deepcopy(rows)
    bad[3]["score"] += 1e-4
    assert oracle.check_search(cascade, q, sd, bad, 10)

    bad = copy.deepcopy(rows)
    bad[0]["rank"], bad[1]["rank"] = 2, 1
    assert oracle.check_search(cascade, q, sd, bad, 10)

    # drop the best entity and shift in the 11th: not a top-10 any more
    full = _search_rows(cascade, q, sd, 11)
    bad = [dict(r, rank=r["rank"] - 1) for r in full[1:]]
    assert oracle.check_search(cascade, q, sd, bad, 10)

    bad = copy.deepcopy(rows)
    bad[0]["searchdomain"] = "sd_0"
    assert oracle.check_search(cascade, q, sd, bad, 10)
    assert oracle.check_search(cascade, q, sd, rows[:-1], 10)


def test_probmethod_folds():
    assert oracle.fold("Mean", [("a", 0.2), ("b", 0.4)]) == pytest.approx(0.3)
    assert oracle.fold("EVEWAvg", [("a", 1.0), ("b", 0.0)]) == 1.0
    assert oracle.fold("LVEWAvg", [("a", 0.5), ("b", 0.0)]) == 0.0
    assert oracle.fold("GeometricMean", [("a", -0.5), ("b", 0.5)]) == pytest.approx(-0.5)
    dwa = 'DictionaryWeightedAverage:{"a":3}'
    assert oracle.fold(dwa, [("a", 1.0), ("b", 0.0)]) == pytest.approx(0.75)


def test_prf_checker(corpus):
    docs = {e.doc_id: I.doc_text(e) for e in corpus}
    prf = oracle.PRFOracle(docs)
    queries = [(0, "t1 t2"), (1, "t4 t0 t9")]
    want = prf.topk(queries, 10)
    assert want
    rows = [
        {"query_id": q, "doc_id": d, "score": s, "n_matched": n, "rank": r}
        for q, d, s, n, r in want
    ]
    assert oracle.check_prf(prf, queries, rows, 10) == []

    bad = copy.deepcopy(rows)
    bad[0]["score"] *= 1.01
    assert oracle.check_prf(prf, queries, bad, 10)

    bad = copy.deepcopy(rows)
    bad[1]["n_matched"] += 1
    assert oracle.check_prf(prf, queries, bad, 10)

    bad = [r for r in rows if not (r["query_id"] == 0 and r["rank"] == 1)]
    assert oracle.check_prf(prf, queries, bad, 10)


def test_prf_expansion_changes_ranking(corpus):
    """The feedback pass matters: the PRF ranking is not plain BM25's."""
    docs = {e.doc_id: I.doc_text(e) for e in corpus}
    with_fb = oracle.PRFOracle(docs).topk([(0, "t1 t2")], 10)
    without = oracle.PRFOracle(docs, m_terms=0).topk([(0, "t1 t2")], 10)
    assert [r[1:3] for r in with_fb] != [r[1:3] for r in without]


def test_ivf_checker(corpus):
    vecs = {e.doc_id: I.embed(e.datapoints["text"][2], I.MODELS[0]) for e in corpus}
    tenant = {e.doc_id: e.searchdomain for e in corpus}
    text = "t2 t7"
    q = I.embed(text, I.MODELS[0])
    cos = {
        i: round(oracle.similarity("Cosine", v, q), 6)
        for i, v in vecs.items() if tenant[i] == "sd_0"
    }
    top = sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    rows = [
        {"query_id": 7, "vec_id": i, "cosine": c, "rank": r + 1}
        for r, (i, c) in enumerate(top)
    ]
    queries = [(7, text, "sd_0")]
    assert oracle.check_ivf(queries, rows, vecs, tenant, 10) == []

    bad = copy.deepcopy(rows)
    bad[2]["cosine"] += 0.01
    assert oracle.check_ivf(queries, bad, vecs, tenant, 10)

    other = next(i for i in vecs if tenant[i] == "sd_1")
    bad = copy.deepcopy(rows)
    bad[4]["vec_id"] = other
    assert oracle.check_ivf(queries, bad, vecs, tenant, 10)

    bad = copy.deepcopy(rows)
    bad[3]["rank"] = 5
    assert oracle.check_ivf(queries, bad, vecs, tenant, 10)
    assert oracle.check_ivf(queries, [], vecs, tenant, 10)


def test_index_checker(corpus):
    live = {(e.searchdomain, e.entity): e for e in corpus}
    cols = I.index_rows(corpus, I.vectors_for(corpus))
    rows = [dict(zip(cols, vals)) for vals in zip(*cols.values())]
    assert oracle.check_index(rows, live, "idx") == []
    assert oracle.check_index(rows[1:], live, "idx")
    assert oracle.check_index(rows + rows[:1], live, "idx")
    bad = copy.deepcopy(rows)
    bad[5]["vector"] = bad[5]["vector"][::-1]
    assert oracle.check_index(bad, live, "idx")
    bad = copy.deepcopy(rows)
    bad[0]["dp_probmethod"] = "Mean" if bad[0]["dp_probmethod"] != "Mean" else "LVEWAvg"
    assert oracle.check_index(bad, live, "idx")


def test_upsert_stream_model():
    s = I.SMOKE
    words = _words()
    start = I.make_corpus(words, s.ingest_domains, s.ingest_entities)
    stream = I.UpsertStream(words, s, start)
    before = dict(stream.live)
    b = stream.next_batch()
    assert (b.n_new, b.n_changed, b.n_unchanged) == (
        s.ingest_new, s.ingest_changed, s.ingest_unchanged)
    assert len(stream.live) == len(before) + s.ingest_new - s.ingest_deleted
    assert not set(b.deletes) & {(e.searchdomain, e.entity) for e in b.upserts}
    changed = b.upserts[s.ingest_new: s.ingest_new + s.ingest_changed]
    for e in changed:
        old = before[(e.searchdomain, e.entity)]
        assert e.datapoints["text"] != old.datapoints["text"]


def test_call_site_modules_and_intervals():
    assert module_of("collect at /a/b/embeddingsearch_spark/operators/retrieval.py:12") \
        == "operators.retrieval"
    assert module_of("collect at /x/embeddingsearch_spark/api.py:3") == "api"
    assert module_of("collect at /x/perfbench/trace.py:1") == "perfbench"
    assert module_of("localCheckpoint at NativeMethodAccessorImpl.java:0") \
        == "other.localCheckpoint"
    assert module_of("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768") \
        == "other"
    assert module_of(None) == "other"
    assert union_s([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0


# -- smoke runs (start Spark) ---------------------------------------------


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace", [("serve_mix", 1), ("ingest_mix", 1), ("ingest_mix", 0)]
)
def test_smoke_run(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"] for m in _bench()["per_layer" if trace else "end_to_end"]}
    assert set(out["metrics"]) == want
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_runs"))


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "serve_mix", "--seed", "1", "--seconds", "1",
             "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
