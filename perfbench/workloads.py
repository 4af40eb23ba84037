"""The benchmark workloads. Each builds its state inside the run, then
runs whole rounds of the same requests in a closed loop with one client;
every request's output is kept and checked against ``oracle`` after
the timed phase.

- ``serve_mix``: small requests (Engine.search, BM25+PRF over a postings
  index, federated IVF) over state built in setup. Little executor work
  per request, so the driver layer dominates: Python plan construction,
  Catalyst, job scheduling, collects and sidecar/catalog reads.
- ``ingest_mix``: a stream of upsert batches (new, changed, unchanged
  entities and deletions) through Engine.index_entities, delete_entities
  and an incremental Engine.save, with materialized queries reconciled
  on every upsert and read back between batches: the write path.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from embeddingsearch_spark import schemas, tables
from embeddingsearch_spark.api import Engine
from embeddingsearch_spark.operators import ann, retrieval
from embeddingsearch_spark.sources.embedder import deterministic_embedding
from perfbench import inputs as I
from perfbench import oracle
from perfbench.trace import dir_mb

TOPN = 10


def _vec_col(vs) -> pa.Array:
    return pa.array([v.tolist() for v in vs], pa.list_(pa.float32()))


def write_state(path: str, entities, vecs) -> None:
    """Persist an Engine state (index_flat partitioned by searchdomain,
    embedding_cache) as parquet, in the layout Engine.save writes."""
    cols = I.index_rows(entities, vecs)
    cols["vector"] = _vec_col(cols["vector"])
    pq.write_to_dataset(
        pa.table(cols), os.path.join(path, "index_flat"), partition_cols=["searchdomain"]
    )
    os.makedirs(os.path.join(path, "embedding_cache"))
    keys = sorted(vecs)
    pq.write_table(
        pa.table(
            {
                "text_hash": [I.text_hash(t) for t, _ in keys],
                "model": [m for _, m in keys],
                "vector": _vec_col([vecs[k].astype(np.float32) for k in keys]),
            }
        ),
        os.path.join(path, "embedding_cache", "part-0.parquet"),
    )


class Workload:
    name = ""
    types: tuple = ()

    def __init__(self, run, sizes: I.Sizes, seed: int, tracer):
        self.run = run
        self.spark = run.spark
        self.sizes = sizes
        self.tracer = tracer
        self.words = I.Words(np.random.default_rng(seed), sizes)
        self.params: dict = {}  # span group -> request inputs
        self.stored = 0.0
        self.n_query = 0

    def request(self, kind, r, call, params, timed, **kw):
        span = self.tracer.request(kind, r, call, timed=timed, **kw)
        self.params[span.group] = params
        return span

    def qids(self, n: int) -> list[int]:
        out = list(range(self.n_query, self.n_query + n))
        self.n_query += n
        return out


class ServeMix(Workload):
    name = "serve_mix"
    types = ("search", "prf", "ivf")
    POSTINGS = "pb_postings"
    IVF = "pb_ivf"

    def setup(self):
        s, spark = self.sizes, self.spark
        self.entities = I.make_corpus(self.words, s.serve_domains, s.serve_entities)
        vecs = I.vectors_for(self.entities)
        self.queries = I.QueryStream(self.words, s)
        write_state(self.run.path("state"), self.entities, vecs)
        self.engine = Engine(spark)
        self.engine.load(self.run.path("state"))

        docs = {e.doc_id: I.doc_text(e) for e in self.entities}
        pq.write_table(
            pa.table({"doc_id": list(docs), "text": list(docs.values())}),
            self.run.path("inputs_docs.parquet"),
        )
        retrieval.build_postings_index(
            spark.read.parquet(self.run.path("inputs_docs.parquet")),
            self.POSTINGS, n_buckets=4, with_stats=True, with_forward=True,
        )

        # IVF corpus: the text datapoint's modelA vector, one tenant per
        # searchdomain; each tenant's quantizer is its sqrt(n) lowest ids
        self.ivf_vec = {
            e.doc_id: vecs[(e.datapoints["text"][2], I.MODELS[0])] for e in self.entities
        }
        self.tenant_of = {e.doc_id: e.searchdomain for e in self.entities}
        ids = sorted(self.ivf_vec)
        pq.write_table(
            pa.table(
                {
                    "vec_id": ids,
                    "source": [self.tenant_of[i] for i in ids],
                    "embedding": [self.ivf_vec[i].tolist() for i in ids],
                }
            ),
            self.run.path("inputs_ivf.parquet"),
        )
        cents = []
        for d in range(s.serve_domains):
            t_ids = [i for i in ids if self.tenant_of[i] == f"sd_{d}"]
            n_c = ann.ivf_config_for(len(t_ids))["n_cents"]
            cents += [(f"sd_{d}", i, self.ivf_vec[i].tolist()) for i in t_ids[:n_c]]
        cents_df = spark.createDataFrame(
            cents, "source string, centroid_id long, embedding array<double>"
        )
        assigned = ann.assign_centroids_federated(
            spark.read.parquet(self.run.path("inputs_ivf.parquet")),
            cents_df, partition_col="source",
        ).localCheckpoint(eager=True)
        ann.save_federated_ivf_index(
            assigned, cents_df, self.IVF, partition_col="source", n_buckets=2
        )
        self.stored = dir_mb(self.run.path("warehouse"))
        self.docs = docs

    def round(self, r: int, timed: bool):
        s, spark = self.sizes, self.spark
        q = self.queries.next()
        sd = f"sd_{r % s.serve_domains}"
        self.request(
            "search", r, lambda: self.engine.search(q, sd, topn=TOPN), (q, sd), timed
        )

        prf_q = [(i, self.queries.next()) for i in self.qids(s.prf_queries)]
        self.request(
            "prf", r,
            lambda: retrieval.bm25_prf_from_index(
                spark, self.POSTINGS,
                tables.literal_frame(spark, prf_q, "query_id long, text string"),
                k=TOPN,
            ),
            prf_q, timed,
        )

        ivf_q = [
            (i, self.queries.next(), f"sd_{(r + j) % s.serve_domains}")
            for j, i in enumerate(self.qids(s.ivf_queries))
        ]

        def ivf():
            qdf = tables.literal_frame(
                spark, ivf_q, "query_id long, text string, source string"
            )
            vec = deterministic_embedding(F.col("text"), F.lit(I.MODELS[0]), I.DIM)
            return ann.ivf_federated_from_index(
                spark, self.IVF,
                qdf.select("query_id", vec.alias("embedding")),
                qdf.select("query_id", "source"),
                k=TOPN, nprobe="auto", partition_col="source",
            )

        self.request("ivf", r, ivf, ivf_q, timed)

    def units(self, spans) -> float:
        return float(len(spans))

    def check(self) -> list[str]:
        cascade = oracle.Cascade(self.entities)
        prf = oracle.PRFOracle(self.docs)
        probs = []
        for span in self.tracer.spans:
            if span.error:
                continue
            p = self.params[span.group]
            if span.kind == "search":
                probs += oracle.check_search(cascade, p[0], p[1], span.rows, TOPN)
            elif span.kind == "prf":
                probs += oracle.check_prf(prf, p, span.rows, TOPN)
            elif span.kind == "ivf":
                probs += oracle.check_ivf(p, span.rows, self.ivf_vec, self.tenant_of, TOPN)
        return probs


class IngestMix(Workload):
    name = "ingest_mix"
    types = ("delete", "upsert", "read")

    def setup(self):
        s = self.sizes
        self.state = self.run.path("state")
        entities = I.make_corpus(self.words, s.ingest_domains, s.ingest_entities)
        vecs = I.vectors_for(entities)
        write_state(self.state, entities, vecs)
        self.f32 = set(vecs)  # stored as float32; the program embeds the rest
        self.engine = Engine(self.spark)
        self.engine.load(self.state)
        pool = I.QueryStream(self.words, s).pool
        self.materialized = [
            (pool[i], f"sd_{i % s.ingest_domains}") for i in range(s.materialized)
        ]
        for q, sd in self.materialized:
            self.engine.materialize_query(q, sd)
        self.stream = I.UpsertStream(self.words, s, entities)
        self.rows_upserted: dict[str, int] = {}

    def round(self, r: int, timed: bool):
        spark, eng = self.spark, self.engine
        batch = self.stream.next_batch()
        live = dict(self.stream.live)  # the model after this round
        dels = spark.createDataFrame(batch.deletes, "searchdomain string, entity string")
        self.request("delete", r, lambda: eng.delete_entities(dels), None, timed)

        ing = spark.createDataFrame(I.ingest_rows(batch.upserts), schemas.INGEST_DATAPOINTS)

        def upsert():
            eng.index_entities(ing)
            eng.save(self.state)

        span = self.request("upsert", r, upsert, None, timed, watch=self.state)
        self.rows_upserted[span.group] = len(batch.upserts) * len(I.DATAPOINTS)
        if r == 1:
            self.stored = dir_mb(self.state)
        for q, sd in self.materialized:
            self.request(
                "read", r,
                lambda q=q, sd=sd: eng.read_results(q, sd, topn=TOPN),
                (q, sd, live), timed,
            )

    def units(self, spans) -> float:
        return float(sum(self.rows_upserted.get(s.group, 0) for s in spans))

    def check(self) -> list[str]:
        probs = []
        cascades: dict[int, oracle.Cascade] = {}
        for span in self.tracer.spans:
            if span.kind != "read" or span.error:
                continue
            q, sd, live = self.params[span.group]
            c = cascades.setdefault(id(live), oracle.Cascade(live.values(), self.f32))
            probs += oracle.check_search(c, q, sd, span.rows, TOPN)
        live = self.stream.live
        mem = [r.asDict() for r in self.engine.index_flat.collect()]
        probs += oracle.check_index(mem, live, "final index")
        reloaded = Engine(self.spark)
        reloaded.load(self.state)
        probs += oracle.check_index(
            [r.asDict() for r in reloaded.index_flat.collect()], live, "reloaded index"
        )
        cols = ["searchdomain", "query", "entity", "score", "rank"]
        saved = sorted(tuple(r) for r in reloaded.query_results.select(*cols).collect())
        kept = sorted(tuple(r) for r in self.engine.query_results.select(*cols).collect())
        if saved != kept:
            probs.append("reloaded query_results differ from the in-memory ones")
        # incremental repair must equal a full recompute
        q, sd = self.materialized[0]
        fresh = self.engine.search(q, sd, topn=TOPN).select(*cols).collect()
        read = self.engine.read_results(q, sd, topn=TOPN).select(*cols).collect()
        if sorted(tuple(r) for r in fresh) != sorted(tuple(r) for r in read):
            probs.append(f"read_results({q!r}) differs from a fresh search")
        return probs


WORKLOADS = {w.name: w for w in (ServeMix, IngestMix)}
