"""Embedding sources (reference S5/S6, AIProvider.cs:39-133).

The reference calls an HTTP provider (ollama/openai) with batched text
arrays per model. In the Spark engine that boundary is a ``mapInPandas``
iterator — each Arrow batch becomes one provider call — and for tests a
deterministic hash embedder (FIXTURES.md §1.4) replaces the network: the
vector is a pure function of (text, model, seed), so fixture generation,
the engine, and the DuckDB oracle agree without any model server.

Two implementations of the SAME function:
  - :func:`deterministic_embedding` — pure Column expression (JVM-side,
    scan-stage, no Python); preferred inside pipelines.
  - :func:`embed_map_in_pandas` — Arrow-batched Python path exercising the
    real provider seam (swap `_embed_batch` for an HTTP call to get the
    reference's S5/S6 behavior).
Both produce identical vectors (tested).
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_DIM = 32
SEED = 42
_TWO_PI = 2.0 * math.pi


def _component(text: Column, model: Column, k: int) -> Column:
    """Raw component k: sin(h mod 10000 / 10000 * 2π) where h is the first
    60 bits of sha256(text|model|seed|k)."""
    h = F.conv(
        F.substring(
            F.sha2(
                F.concat_ws("|", text, model, F.lit(str(SEED)), F.lit(str(k))),
                256,
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")  # 60 bits — modulo must happen in integer domain
    return F.sin((h % 10000).cast("double") / 10000.0 * _TWO_PI)


def deterministic_embedding(
    text: Column, model: Column, dim: int = DEFAULT_DIM
) -> Column:
    """L2-normalized deterministic embedding as array<double>."""
    arr = F.array(*[_component(text, model, k) for k in range(dim)])
    norm = F.sqrt(
        F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    safe = F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)
    # zip_with against a repeated norm evaluates the norm once per row; a
    # transform lambda that closes over it re-evaluates every sha256
    # component for each of the dim elements
    return F.zip_with(arr, F.array_repeat(safe, dim), lambda x, n: x / n)


def _embed_one(text: str, model: str, dim: int) -> list[float]:
    """Python mirror of deterministic_embedding (shared spec)."""
    comps = []
    for k in range(dim):
        payload = f"{text}|{model}|{SEED}|{k}".encode()
        h = int(hashlib.sha256(payload).hexdigest()[:15], 16)
        comps.append(math.sin(h % 10000 / 10000.0 * _TWO_PI))
    norm = math.sqrt(sum(c * c for c in comps)) or 1.0
    return [c / norm for c in comps]


def _embed_batch(texts: list[str], model: str, dim: int) -> list[list[float]]:
    """Provider seam: one call per (batch, model) — the reference's batched
    array-input request (AIProvider.cs:39, Datapoint.cs:67-110). Replace
    with an HTTP POST to `/api/embed` (ollama) or `/v1/embeddings` (openai)
    for a live provider."""
    return [_embed_one(t, model, dim) for t in texts]


@dataclass(frozen=True)
class HttpEmbedder:
    """Batched HTTP embedding provider (the reference's
    AIProvider.GenerateEmbeddings, AIProvider.cs:39-133): per-model batched
    POST with bearer auth and provider-specific response extraction
    (the reference drives this with configurable JSONPaths; the two wire
    formats it ships are hard-coded here).

      kind="ollama": POST {model, input: [...]} → {"embeddings": [[...]]}
                     (the /api/embed endpoint)
      kind="openai": POST {model, input: [...]} → {"data": [{"embedding":
                     [...]}, ...]} with Authorization: Bearer <key>
                     (the /v1/embeddings endpoint)

    ``transport`` is injectable for tests (callable (url, payload_dict,
    headers_dict, timeout) → response_dict); the default is a stdlib
    urllib POST — no HTTP client dependency. Executors call the provider
    directly (one POST per Arrow-batch × model), so provider capacity —
    not Spark — bounds ingest parallelism; cap concurrent tasks via
    ``spark.cores.max``/partition count if the provider rate-limits.
    """

    kind: str
    url: str
    api_key: str | None = None
    batch_size: int = 64
    timeout: float = 30.0
    transport: object = None  # test seam; None → urllib POST

    def embed(self, texts: list[str], model: str) -> list[list[float]]:
        if self.kind not in ("ollama", "openai"):
            raise ValueError("kind must be 'ollama' or 'openai'")
        transport = self.transport or _urllib_post_json
        headers = {}
        if self.api_key:
            headers["Authorization"] = f"Bearer {self.api_key}"
        out: list[list[float]] = []
        for i in range(0, len(texts), self.batch_size):
            chunk = list(texts[i : i + self.batch_size])
            resp = transport(
                self.url,
                {"model": model, "input": chunk},
                headers,
                self.timeout,
            )
            if self.kind == "ollama":
                embs = resp["embeddings"]
            elif self.kind == "openai":
                embs = [d["embedding"] for d in resp["data"]]
            else:
                raise ValueError("kind must be 'ollama' or 'openai'")
            if len(embs) != len(chunk):
                raise ValueError(
                    f"provider returned {len(embs)} embeddings for "
                    f"{len(chunk)} inputs"
                )
            out.extend([float(x) for x in e] for e in embs)
        return out


def _urllib_post_json(url, payload, headers, timeout):
    import json
    import urllib.request

    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json", **headers},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
        return json.loads(resp.read().decode("utf-8"))


def embed_map_in_pandas(
    df: DataFrame,
    text_col: str = "text",
    model_col: str = "model",
    dim: int = DEFAULT_DIM,
    out_col: str = "vector",
    provider: HttpEmbedder | None = None,
) -> DataFrame:
    """Arrow-batched embedding: each pandas batch is grouped by model and
    embedded with one provider call per model (the reference's per-model
    batched prefetch, SearchdomainHelper.cs:63-96). ``provider=None`` uses
    the deterministic hash embedder; an :class:`HttpEmbedder` issues the
    reference's batched POSTs (S5/S6) from the executors."""
    import pandas as pd

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    out_schema = f"{fields}, {out_col} array<double>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vectors: list[list[float]] = [None] * len(pdf)  # type: ignore
            for model, idx in pdf.groupby(model_col).groups.items():
                texts = pdf.loc[idx, text_col].tolist()
                if provider is None:
                    embs = _embed_batch(texts, str(model), dim)
                else:
                    embs = provider.embed(texts, str(model))
                for i, pos in enumerate(idx):
                    vectors[pdf.index.get_loc(pos)] = embs[i]
            pdf = pdf.copy()
            pdf[out_col] = vectors
            yield pdf

    return df.mapInPandas(run, schema=out_schema)
