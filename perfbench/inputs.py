"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed and the sizes: the same
seed gives the same corpus, query stream and upsert stream. Nothing in
this module touches Spark; the benchmark hands the program only the
generated inputs (parquet files, literal frames).
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field, replace

import numpy as np

MODELS = ("mock:modelA", "mock:modelB")
DIM = 32  # the Engine's default embedding width
DATAPOINTS = ("filename", "title", "text")
SIMMETHODS = ("Cosine", "Euclidian", "Manhattan", "Pearson")
_BASE_PM = (
    "Mean",
    "HarmonicMean",
    "QuadraticMean",
    "GeometricMean",
    "EVEWAvg",
    "HVEWAvg",
    "LVEWAvg",
)
# DictionaryWeightedAverage at both levels: the entity level weighs
# datapoints, the datapoint level weighs models.
ENTITY_PM = _BASE_PM + (
    'DictionaryWeightedAverage:{"title":2,"filename":0.1,"text":0.25}',
)
DATAPOINT_PM = _BASE_PM + (
    'DictionaryWeightedAverage:{"mock:modelA":4,"mock:modelB":1}',
)
EMBED_SEED = 42  # the deterministic embedder's fixed seed


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one run. ``FULL`` is what the benchmark measures;
    ``SMOKE`` finishes in seconds and exists for the checker tests."""

    vocab: int = 1500
    zipf_s: float = 1.1
    query_pool: int = 48
    query_zipf_s: float = 1.0
    # serve_mix
    serve_domains: int = 4
    serve_entities: int = 120  # per domain
    prf_queries: int = 3  # queries per PRF request
    ivf_queries: int = 2  # queries per IVF request
    # ingest_mix
    ingest_domains: int = 2
    ingest_entities: int = 80  # per domain, before the stream
    ingest_new: int = 6  # per batch
    ingest_changed: int = 6
    ingest_unchanged: int = 6
    ingest_deleted: int = 2
    materialized: int = 1  # queries materialized in setup, read every round


FULL = Sizes()
SMOKE = replace(
    FULL,
    vocab=200,
    query_pool=8,
    serve_domains=2,
    serve_entities=12,
    ingest_entities=10,
    ingest_new=2,
    ingest_changed=2,
    ingest_unchanged=2,
    ingest_deleted=1,
)


# -- the deterministic embedder, written from its specification ----------


def embed(text: str, model: str, dim: int = DIM) -> np.ndarray:
    """Component k is sin(2π · (h mod 10000) / 10000), h the first 15 hex
    digits of sha256("text|model|42|k"); the vector is L2-normalised
    (a zero vector stays zero). Float64, independent of the program."""
    h = np.array(
        [
            int(
                hashlib.sha256(
                    f"{text}|{model}|{EMBED_SEED}|{k}".encode()
                ).hexdigest()[:15],
                16,
            )
            % 10000
            for k in range(dim)
        ],
        dtype=np.float64,
    )
    v = np.sin(h / 10000.0 * 2.0 * math.pi)
    n = math.sqrt(float(v @ v))
    return v / (n if n != 0.0 else 1.0)


def text_hash(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


# -- vocabulary and text --------------------------------------------------


class Words:
    """A Zipfian vocabulary: word i has weight 1/(i+1)^s."""

    def __init__(self, rng: np.random.Generator, sizes: Sizes):
        self.rng = rng
        self.words = [f"t{i}" for i in range(sizes.vocab)]
        w = 1.0 / np.arange(1, sizes.vocab + 1) ** sizes.zipf_s
        self.cdf = np.cumsum(w / w.sum())

    def draw(self, n: int) -> str:
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        idx = np.minimum(idx, len(self.words) - 1)
        return " ".join(self.words[i] for i in idx)


@dataclass
class Entity:
    searchdomain: str
    entity: str
    doc_id: int
    entity_probmethod: str
    # datapoint -> (dp_probmethod, simmethod, text)
    datapoints: dict = field(default_factory=dict)


TEXT_WORDS = (8, 30)  # the text datapoint has 8..29 words


def make_entity(words: Words, sd: str, g: int) -> Entity:
    """Entity ``g`` (global id): its probmethod/simmethod assignment
    cycles so that every entity × datapoint probmethod pair and every
    simmethod occur."""
    e = Entity(sd, f"{sd}/doc_{g}", g, ENTITY_PM[g % 8])
    for j, dp in enumerate(DATAPOINTS):
        if dp == "filename":
            text = f"doc_{g}.md"
        elif dp == "title":
            text = words.draw(int(words.rng.integers(2, 6)))
        else:
            text = words.draw(int(words.rng.integers(*TEXT_WORDS)))
        e.datapoints[dp] = (
            DATAPOINT_PM[(g // 8 + j) % 8],
            SIMMETHODS[(g // 64 + j) % 4],
            text,
        )
    return e


def make_corpus(words: Words, n_domains: int, n_entities: int) -> list[Entity]:
    return [
        make_entity(words, f"sd_{d}", d * n_entities + i)
        for d in range(n_domains)
        for i in range(n_entities)
    ]


class QueryStream:
    """Query texts from a fixed pool, drawn with Zipfian popularity so
    that popular queries repeat."""

    def __init__(self, words: Words, sizes: Sizes):
        self.rng = words.rng
        self.pool = [
            words.draw(int(self.rng.integers(2, 5)))
            for _ in range(sizes.query_pool)
        ]
        w = 1.0 / np.arange(1, sizes.query_pool + 1) ** sizes.query_zipf_s
        self.cdf = np.cumsum(w / w.sum())

    def next(self) -> str:
        i = int(np.searchsorted(self.cdf, self.rng.random(), side="right"))
        return self.pool[min(i, len(self.pool) - 1)]


def vectors_for(entities: list[Entity]) -> dict:
    """{(text, model): float64 vector} for every datapoint text."""
    out = {}
    for e in entities:
        for _, _, text in e.datapoints.values():
            for m in MODELS:
                if (text, m) not in out:
                    out[(text, m)] = embed(text, m)
    return out


def index_rows(entities: list[Entity], vecs: dict) -> dict:
    """index_flat-shaped columns (one row per datapoint × model)."""
    cols = {k: [] for k in (
        "searchdomain", "entity", "entity_probmethod", "datapoint",
        "dp_probmethod", "simmethod", "text_hash", "model", "vector",
    )}
    for e in entities:
        for dp, (dpm, sim, text) in e.datapoints.items():
            for m in MODELS:
                cols["searchdomain"].append(e.searchdomain)
                cols["entity"].append(e.entity)
                cols["entity_probmethod"].append(e.entity_probmethod)
                cols["datapoint"].append(dp)
                cols["dp_probmethod"].append(dpm)
                cols["simmethod"].append(sim)
                cols["text_hash"].append(text_hash(text))
                cols["model"].append(m)
                cols["vector"].append(vecs[(text, m)].astype(np.float32))
    return cols


def ingest_rows(entities: list[Entity]) -> list[tuple]:
    """INGEST_DATAPOINTS-shaped tuples."""
    return [
        (
            e.searchdomain, e.entity, e.entity_probmethod,
            {"source": e.entity}, dp, dpm, sim, text, list(MODELS),
        )
        for e in entities
        for dp, (dpm, sim, text) in e.datapoints.items()
    ]


def doc_text(e: Entity) -> str:
    """The lexical document of an entity: its title and text."""
    return e.datapoints["title"][2] + " " + e.datapoints["text"][2]


@dataclass
class Batch:
    upserts: list  # Entity list: new, changed and unchanged
    deletes: list  # (searchdomain, entity)
    n_new: int
    n_changed: int
    n_unchanged: int


class UpsertStream:
    """A seeded stream of upsert batches over a live entity set. Each
    batch mixes new entities, entities whose text datapoint changed
    (embedding-cache misses), entities re-sent unchanged (cache hits)
    and deletions. ``live`` is the benchmark's own model of the state."""

    def __init__(self, words: Words, sizes: Sizes, live: list[Entity]):
        self.words = words
        self.sizes = sizes
        self.live = {(e.searchdomain, e.entity): e for e in live}
        self.next_id = max(e.doc_id for e in live) + 1

    def next_batch(self) -> Batch:
        s, rng = self.sizes, self.words.rng
        keys = sorted(self.live, key=lambda k: self.live[k].doc_id)
        pick = rng.permutation(len(keys))
        k_chg = [keys[i] for i in pick[: s.ingest_changed]]
        k_same = [
            keys[i]
            for i in pick[s.ingest_changed: s.ingest_changed + s.ingest_unchanged]
        ]
        lo = s.ingest_changed + s.ingest_unchanged
        k_del = [keys[i] for i in pick[lo: lo + s.ingest_deleted]]
        ups = []
        for _ in range(s.ingest_new):
            sd = f"sd_{int(rng.integers(0, s.ingest_domains))}"
            ups.append(make_entity(self.words, sd, self.next_id))
            self.next_id += 1
        for k in k_chg:
            old = self.live[k]
            e = Entity(old.searchdomain, old.entity, old.doc_id,
                       old.entity_probmethod, dict(old.datapoints))
            dpm, sim, _ = e.datapoints["text"]
            e.datapoints["text"] = (
                dpm, sim, self.words.draw(int(rng.integers(*TEXT_WORDS)))
            )
            ups.append(e)
        ups.extend(self.live[k] for k in k_same)
        for e in ups:
            self.live[(e.searchdomain, e.entity)] = e
        for k in k_del:
            del self.live[k]
        return Batch(ups, k_del, s.ingest_new, len(k_chg), len(k_same))
