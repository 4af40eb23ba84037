"""Correctness checkers, computed apart from Spark.

Each checker takes the rows the program returned (plain tuples/dicts)
and the benchmark's own model of the inputs, and returns a list of
problems; an empty list means the result is correct. The semantics
follow the engine's declared ones (float64 math, scores rounded to 6
decimals, ties broken by id ascending); comparisons allow 2e-6 so that
float summation order cannot flip a verdict.
"""

from __future__ import annotations

import json
import math

import numpy as np

from perfbench import inputs as I

EPS = 1e-9
ROUND = 6
TOL = 2e-6

# -- similarity kernels and probmethods -----------------------------------


def similarity(method: str, a: np.ndarray, b: np.ndarray) -> float:
    if method == "Cosine":
        den = math.sqrt(a @ a) * math.sqrt(b @ b)
        raw = 0.0 if den == 0.0 else float(a @ b) / den
        return (raw + 1.0) / 2.0
    if method == "Euclidian":
        return 1.0 / (1.0 + math.sqrt(float(((a - b) ** 2).sum())))
    if method == "Manhattan":
        return 1.0 / (1.0 + float(np.abs(a - b).sum()))
    if method == "Pearson":
        n = len(a)
        s1, s2 = float(a.sum()), float(b.sum())
        num = float(a @ b) - s1 * s2 / n
        var = (float(a @ a) - s1 * s1 / n) * (float(b @ b) - s2 * s2 / n)
        if not var > 0.0:
            return 0.0
        return num / math.sqrt(var)
    raise ValueError(method)


def _div(num: float, den: float) -> float:
    return 0.0 if den == 0.0 else num / den


def fold(method: str, keyed: list[tuple[str, float]]) -> float:
    """Fold (key, score) pairs with a probmethod; DictionaryWeighted-
    Average reads its per-key weights from the JSON after the colon."""
    base, _, params = method.partition(":")
    x = np.array([s for _, s in keyed], dtype=np.float64)
    zero = np.abs(x) <= EPS
    one = np.abs(x - 1.0) <= EPS
    if base == "Mean":
        return float(x.mean())
    if base == "HarmonicMean":
        nz = x[~zero]
        if len(nz) == 0:
            return 0.0
        return _div(len(nz), float((1.0 / nz).sum())) * len(nz) / len(x)
    if base == "QuadraticMean":
        return math.sqrt(float((x * x).mean()))
    if base == "GeometricMean":
        if zero.any():
            return 0.0
        sign = -1.0 if int((x < -EPS).sum()) % 2 == 1 else 1.0
        return sign * math.exp(float(np.log(np.abs(x)).mean()))
    if base == "EVEWAvg":
        if one.any():
            return 1.0
        if zero.any():
            return 0.0
        return _div(float((x / (x * (1 - x))).sum()), float((1 / (x * (1 - x))).sum()))
    if base == "HVEWAvg":
        if one.any():
            return 1.0
        return _div(float((x / (1 - x)).sum()), float((1 / (1 - x)).sum()))
    if base == "LVEWAvg":
        if zero.any():
            return 0.0
        return _div(float(len(x)), float((1 / x).sum()))
    if base == "DictionaryWeightedAverage":
        weights = json.loads(params) if params else {}
        w = np.array([float(weights.get(k, 1.0)) for k, _ in keyed])
        return _div(float((w * x).sum()), float(w.sum()))
    raise ValueError(method)


# -- the search cascade ---------------------------------------------------


class Cascade:
    """The two-level cascade over the benchmark's entity model. Query
    vectors are float64. Index vectors are float32 where the program
    read them from a float32 column (``f32``: the (text, model) keys of
    the state written in setup, default all) and float64 where the
    program embedded the text itself."""

    def __init__(self, entities, f32=None):
        self.entities = list(entities)
        self.f32 = f32
        self._vec: dict = {}
        self._q: dict = {}

    def _v(self, text: str, model: str) -> np.ndarray:
        key = (text, model)
        if key not in self._vec:
            v = I.embed(text, model)
            if self.f32 is None or key in self.f32:
                v = v.astype(np.float32).astype(np.float64)
            self._vec[key] = v
        return self._vec[key]

    def _qv(self, query: str, model: str) -> np.ndarray:
        key = (query, model)
        if key not in self._q:
            self._q[key] = I.embed(query, model)
        return self._q[key]

    def scores(self, query: str, searchdomain: str) -> dict[str, float]:
        out = {}
        for e in self.entities:
            if e.searchdomain != searchdomain:
                continue
            dps = []
            for dp in sorted(e.datapoints):
                dpm, sim, text = e.datapoints[dp]
                sims = [
                    (m, similarity(sim, self._v(text, m), self._qv(query, m)))
                    for m in sorted(I.MODELS)
                ]
                dps.append((dp, fold(dpm, sims)))
            out[e.entity] = round(fold(e.entity_probmethod, dps), ROUND)
        return out


def check_ranking(
    got: list[tuple[str, float, int]], want: dict[str, float], topn: int, what: str
) -> list[str]:
    """``got`` is [(id, score, rank)] for one query; ``want`` the full
    oracle score map. Checks scores, contiguous ordered ranks and that the
    returned set is a top-``topn`` of ``want``."""
    probs = []
    n = min(topn, len(want))
    if len(got) != n:
        return [f"{what}: {len(got)} rows, want {n}"]
    got = sorted(got, key=lambda r: r[2])
    if [r[2] for r in got] != list(range(1, n + 1)):
        probs.append(f"{what}: ranks {[r[2] for r in got]} not 1..{n}")
    for i, (ident, score, _) in enumerate(got):
        if ident not in want:
            probs.append(f"{what}: unknown id {ident!r}")
            continue
        if abs(score - want[ident]) > TOL:
            probs.append(f"{what}: {ident!r} score {score} want {want[ident]}")
        if i and (got[i - 1][1] < score - TOL):
            probs.append(f"{what}: rank {i + 1} out of order")
    if not probs and n:
        floor = sorted(want.values(), reverse=True)[n - 1]
        ids = {r[0] for r in got}
        if min(r[1] for r in got) < floor - TOL:
            probs.append(f"{what}: returned a score below the top-{n} floor")
        missing = [i for i, s in want.items() if s > floor + TOL and i not in ids]
        if missing:
            probs.append(f"{what}: missing top entities {missing[:3]}")
    return probs


def check_search(cascade: Cascade, query: str, sd: str, rows, topn: int) -> list[str]:
    """rows: Engine.search output (searchdomain, query, entity, score, rank)."""
    bad = [r for r in rows if r["searchdomain"] != sd or r["query"] != query]
    if bad:
        return [f"search {query!r}: rows outside the request: {bad[:1]}"]
    got = [(r["entity"], float(r["score"]), int(r["rank"])) for r in rows]
    return check_ranking(got, cascade.scores(query, sd), topn, f"search {query!r}@{sd}")


# -- BM25 with pseudo-relevance feedback, in DuckDB -----------------------

_PRF_SQL = """
WITH stats AS (
  SELECT count(*)::DOUBLE AS n,
         coalesce(nullif(avg(dl), 0.0), 1.0) AS avgdl FROM docs
),
qt AS (SELECT DISTINCT query_id, term FROM qterms),
df AS (SELECT term, count(*) AS df FROM post GROUP BY term),
s1 AS (
  SELECT qt.query_id, p.doc_id,
         round(sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * p.tf * (?1 + 1.0)
                   / (p.tf + ?1 * (1.0 - ?2 + ?2 * p.dl / s.avgdl))), 6) AS score
  FROM qt JOIN post p USING (term) JOIN df d USING (term), stats s
  GROUP BY qt.query_id, p.doc_id
),
fb AS (
  SELECT query_id, doc_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id) AS r FROM s1)
  WHERE r <= ?3
),
w AS (
  SELECT fb.query_id, p.term,
         round(sum(p.tf::DOUBLE * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))), 6) AS w
  FROM fb JOIN post p USING (doc_id) JOIN df d USING (term), stats s
  GROUP BY fb.query_id, p.term
),
expn AS (
  SELECT query_id, term FROM (
    SELECT w.*, row_number() OVER (PARTITION BY w.query_id
                                   ORDER BY w.w DESC, w.term) AS r
    FROM w ANTI JOIN qt USING (query_id, term))
  WHERE r <= ?4
),
qt2 AS (SELECT query_id, term FROM qt UNION SELECT query_id, term FROM expn),
s2 AS (
  SELECT qt2.query_id, p.doc_id,
         round(sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * p.tf * (?1 + 1.0)
                   / (p.tf + ?1 * (1.0 - ?2 + ?2 * p.dl / s.avgdl))), 6) AS score,
         count(*) AS n_matched
  FROM qt2 JOIN post p USING (term) JOIN df d USING (term), stats s
  GROUP BY qt2.query_id, p.doc_id
)
SELECT query_id, doc_id, score, n_matched, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id) AS rank FROM s2)
WHERE rank <= ?5
ORDER BY query_id, rank
"""


def tokens(text: str) -> list[str]:
    """The engine's tokenizer: lower-cased, trimmed, whitespace split."""
    return text.lower().split()


class PRFOracle:
    """BM25 + RM3-style feedback (k1, b, k_fb feedback docs, m expansion
    terms) over the benchmark's documents, in DuckDB."""

    def __init__(self, docs: dict[int, str], k1=1.2, b=0.75, k_fb=5, m_terms=3):
        import duckdb
        import pandas as pd

        self.params = (k1, b, k_fb, m_terms)
        self.con = duckdb.connect()
        post = []
        dls = []
        for doc_id, text in docs.items():
            toks = tokens(text)
            dls.append((doc_id, len(toks)))
            counts: dict[str, int] = {}
            for t in toks:
                counts[t] = counts.get(t, 0) + 1
            post.extend((doc_id, t, tf, len(toks)) for t, tf in counts.items())
        self.con.register("docs", pd.DataFrame(dls, columns=["doc_id", "dl"]))
        self.con.register(
            "post", pd.DataFrame(post, columns=["doc_id", "term", "tf", "dl"])
        )

    def topk(self, queries: list[tuple[int, str]], k: int) -> list[tuple]:
        import pandas as pd

        qt = [(qid, t) for qid, text in queries for t in set(tokens(text))]
        self.con.register("qterms", pd.DataFrame(qt, columns=["query_id", "term"]))
        k1, b, k_fb, m = self.params
        return self.con.execute(_PRF_SQL, [k1, b, k_fb, m, k]).fetchall()


def check_prf(oracle: PRFOracle, queries, rows, k: int) -> list[str]:
    """rows: bm25_prf_from_index output (query_id, doc_id, score,
    n_matched, rank)."""
    want = oracle.topk(queries, k)
    probs = []
    for qid, _ in queries:
        w = {r[1]: (r[2], r[3]) for r in want if r[0] == qid}
        g = [r for r in rows if r["query_id"] == qid]
        got = [(r["doc_id"], float(r["score"]), int(r["rank"])) for r in g]
        probs += check_ranking(
            got, {d: s for d, (s, _) in w.items()}, k, f"prf q{qid}"
        )
        for r in g:
            if r["doc_id"] in w and int(r["n_matched"]) != w[r["doc_id"]][1]:
                probs.append(f"prf q{qid}: doc {r['doc_id']} n_matched differs")
    return probs


# -- federated IVF --------------------------------------------------------


def check_ivf(
    queries: list[tuple[int, str, str]], rows, vectors: dict, tenant_of: dict, k: int
) -> list[str]:
    """queries: (query_id, text, routed tenant); vectors: {vec_id:
    float64 vector}; tenant_of: {vec_id: tenant}. The serve is
    approximate, so it is checked for properties, not against an exact
    top-k: cosines equal NumPy cosines, hits stay inside the routed
    tenant, ranks are contiguous and ordered, at most k per query."""
    probs = []
    for qid, text, tenant in queries:
        q = I.embed(text, I.MODELS[0])
        g = sorted((r for r in rows if r["query_id"] == qid), key=lambda r: r["rank"])
        if not g or len(g) > k:
            probs.append(f"ivf q{qid}: {len(g)} hits")
            continue
        if [int(r["rank"]) for r in g] != list(range(1, len(g) + 1)):
            probs.append(f"ivf q{qid}: ranks not contiguous")
        for i, r in enumerate(g):
            vid = r["vec_id"]
            if tenant_of.get(vid) != tenant:
                probs.append(f"ivf q{qid}: vec {vid} outside tenant {tenant}")
                continue
            want = round(similarity("Cosine", vectors[vid], q), ROUND)
            if abs(float(r["cosine"]) - want) > TOL:
                probs.append(f"ivf q{qid}: vec {vid} cosine {r['cosine']} want {want}")
            if i and (
                (g[i - 1]["cosine"], -g[i - 1]["vec_id"]) < (r["cosine"], -vid)
            ):
                probs.append(f"ivf q{qid}: rank {i + 1} out of order")
    return probs


# -- ingest state ---------------------------------------------------------


def index_key(r) -> tuple:
    return (
        r["searchdomain"], r["entity"], r["entity_probmethod"], r["datapoint"],
        r["dp_probmethod"], r["simmethod"], r["text_hash"], r["model"],
    )


def check_index(rows, live: dict, what: str) -> list[str]:
    """``rows``: index_flat rows; ``live``: the benchmark's model
    {(searchdomain, entity): Entity}. Keys must match exactly and every
    vector must equal the embedding of its datapoint's text."""
    want = {}
    for e in live.values():
        for dp, (dpm, sim, text) in e.datapoints.items():
            for m in I.MODELS:
                want[(e.searchdomain, e.entity, e.entity_probmethod, dp, dpm,
                      sim, I.text_hash(text), m)] = text
    got = {}
    for r in rows:
        got[index_key(r)] = r["vector"]
    probs = []
    extra = sorted(set(got) - set(want))
    missing = sorted(set(want) - set(got))
    if len(got) != len(rows):
        probs.append(f"{what}: duplicate index rows")
    if extra:
        probs.append(f"{what}: {len(extra)} unexpected rows, e.g. {extra[0][:4]}")
    if missing:
        probs.append(f"{what}: {len(missing)} missing rows, e.g. {missing[0][:4]}")
    for key in set(got) & set(want):
        v = np.asarray(got[key], dtype=np.float64)
        if v.shape != (I.DIM,) or np.abs(v - I.embed(want[key], key[7])).max() > 1e-6:
            probs.append(f"{what}: wrong vector for {key[:4]}")
            break
    return probs
