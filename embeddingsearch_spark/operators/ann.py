"""Similarity search over an embedding column: brute-force exact top-k as
the baseline, IVF-style partition-pruned variant as the 100-TB scale path.

Brute force is the reference's own strategy (full scan per query,
reference Searchdomain.cs:194-197 — SURVEY.md §4 X13): broadcast the query
vectors, compute cosine JVM-side, distributed top-k via per-query window
rank. One corpus scan serves ALL queries at once.

The IVF variant assigns every vector to its nearest centroid at build time
(one scan), then probes only the ``nprobe`` closest centroids' buckets per
query — at 100 TB with the corpus written partitioned/bucketed by
``centroid_id``, the probe reads only those partitions (partition pruning),
turning an O(corpus) scan into O(corpus × nprobe / n_centroids).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from embeddingsearch_spark import tables
from embeddingsearch_spark.constants import ROUND_DIGITS
from embeddingsearch_spark.functions.vectors import dot, norm2


def _cosine_from_parts(dot_ab: Column, na: Column, nb: Column) -> Column:
    """Remapped cosine given a precomputed norm per side. Precomputing the
    norms per ROW (scan stage, O(n)) instead of per PAIR (O(n·q) or O(n²))
    removes two of the three array reductions from every pair — same float
    operations, same results, a third of the work on the hot path."""
    denom = na * nb
    raw = F.when(denom == 0.0, F.lit(0.0)).otherwise(dot_ab / denom)
    return (raw + 1.0) / 2.0


def _rank_by_cosine(
    cand: DataFrame, k: int, id_col: str, vec_col: str, query_id_col: str
) -> DataFrame:
    """Top ``k`` per query over (query, candidate) rows that carry the
    candidate vector and norm (``vec_col``, ``_vn``) beside the query's
    (``_qvec``, ``_qn``): rounded remapped cosine, ties broken by id
    ascending. Columns (query_id, id, cosine, rank)."""
    sim = _cosine_from_parts(
        dot(F.col(vec_col), F.col("_qvec")),
        F.col("_vn"),
        F.col("_qn"),
    )
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(sim, ROUND_DIGITS).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= int(k)
    )


def hard_negative_mine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    max_sim: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training pairs (the
    standard dense-retrieval recipe — public): per query, the top-``k``
    MOST similar corpus vectors that are neither the query itself nor
    near-duplicates (remapped cosine >= ``max_sim`` — those are
    positives/dups, not negatives). ``(query_id, vec_id, cosine,
    rank<=k)``.

    Same broadcast-queries single-scan shape as `brute_force_topk`;
    the dup/self exclusion is a scan-stage predicate BEFORE the
    per-query rank window."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            norm2(F.col(vec_col)).alias("_qn"),
        )
    )
    scored = (
        corpus.select(
            F.col(id_col),
            F.col(vec_col),
            norm2(F.col(vec_col)).alias("_cn"),
        )
        .crossJoin(q)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(
                _cosine_from_parts(
                    dot(F.col(vec_col), F.col("_qvec")),
                    F.col("_cn"),
                    F.col("_qn"),
                ),
                ROUND_DIGITS,
            ).alias("cosine"),
        )
        .filter(
            (F.col(id_col) != F.col(query_id_col))
            & (F.col("cosine") < max_sim)
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def chunk_max_topk(
    chunks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    doc_col: str = "doc_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Chunked-document retrieval: score a document by its BEST chunk —
    ``(query_id, doc_id, best_vec_id, cosine, rank<=k)`` where cosine =
    max over the doc's chunks of the remapped query-chunk cosine (the
    late-interaction max-pooling used for long-document retrieval;
    single-query-vector simplification of ColBERT's MaxSim — public).

    Shape: same broadcast-queries scan as `brute_force_topk`, then ONE
    extra (query, doc) max-aggregation (map-side combinable) before the
    per-query rank window — chunk rows collapse to doc rows before any
    window runs, so the window input is docs × queries, not chunks ×
    queries. best_vec_id (smallest chunk id among the max-scoring ones)
    makes the winning chunk auditable."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            norm2(F.col(vec_col)).alias("_qn"),
        )
    )
    sim = F.round(
        _cosine_from_parts(
            dot(F.col(vec_col), F.col("_qvec")),
            F.col("_cn"),
            F.col("_qn"),
        ),
        ROUND_DIGITS,
    )
    scored = (
        chunks.select(
            F.col(doc_col),
            F.col(id_col),
            F.col(vec_col),
            norm2(F.col(vec_col)).alias("_cn"),
        )
        .crossJoin(q)
        .select(
            F.col(query_id_col),
            F.col(doc_col),
            F.col(id_col),
            sim.alias("_sim"),
        )
    )
    # min_by on (-sim, id): highest sim, ties -> smallest chunk id —
    # deterministic in one aggregation, no window over the chunk stream.
    # The negation lives on the (always-numeric) sim, not the id, so
    # string/UUID chunk ids order natively instead of casting to NULL.
    per_doc = scored.groupBy(query_id_col, doc_col).agg(
        F.max("_sim").alias("cosine"),
        F.min_by(
            F.col(id_col),
            F.struct(
                (-F.col("_sim")).alias("negsim"),
                F.col(id_col).alias("i"),
            ),
        ).alias("best_vec_id"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(doc_col).asc()
    )
    return per_doc.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cosine, rank<=k)."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            norm2(F.col(vec_col)).alias("_qn"),
        )
    )
    cand = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        norm2(F.col(vec_col)).alias("_vn"),
    ).crossJoin(q)
    return _rank_by_cosine(cand, k, id_col, vec_col, query_id_col)


def brute_force_topk_numpy(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matrix multiply — the
    measured alternative to the JVM expression path (SURVEY.md §4 X10:
    "measure both"). Queries are collected driver-side (they are tiny by
    construction) and broadcast inside the closure; each Arrow batch does
    ONE (n×d)·(d×q) GEMM and emits only its per-batch top-k, so the final
    global rank sees n_batches × q × k rows, not the full corpus.

    Same output contract as brute_force_topk (rounded cosine, rank ties by
    id). Rounding to 6 digits absorbs the summation-order difference
    between numpy's pairwise SIMD sums and the HOF left fold (tested)."""
    import numpy as np

    q_rows = queries.select(query_id_col, vec_col).collect()
    qids = np.array([r[0] for r in q_rows])
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)

    out_schema = f"{query_id_col} long, {id_col} long, cosine double"

    def part(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            vn = np.linalg.norm(V, axis=1)
            denom = vn[:, None] * qn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = np.where(denom == 0.0, 0.0, (V @ Q.T) / denom)
            sim = np.round((raw + 1.0) / 2.0, ROUND_DIGITS)
            ids = pdf[id_col].to_numpy()
            recs = []
            for j in range(len(qids)):
                col = sim[:, j]
                take = min(k, len(col))
                # ties resolved by id asc: sort by (-cosine, id)
                order = np.lexsort((ids, -col))[:take]
                recs.extend(
                    (int(qids[j]), int(ids[i]), float(col[i])) for i in order
                )
            yield pd.DataFrame(
                recs, columns=[query_id_col, id_col, "cosine"]
            )

    partial = corpus.select(id_col, vec_col).mapInPandas(
        part, schema=out_schema
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return partial.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def blocked_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.65,
    max_block: int = 100_000,
    on_oversize: str = "fallback",
) -> DataFrame:
    """Embedding-cosine near-dup: all pairs within a blocking key above a
    cosine threshold. The blocking key bounds the quadratic pair count; the
    per-row norm is computed once scan-side, so each pair costs one dot.

    GUARDED against quadratic blow-up: the pair join is O(block²), so one
    skewed blocking key (or a 100× scale-up) turns this into the job that
    never finishes. Blocks larger than ``max_block`` rows are routed by
    ``on_oversize``:
      - "fallback" (default): oversized blocks go through SRP-LSH
        (`srp_cosine_pairs` with the block as an extra bucket key) —
        approximate (recall < 1 for borderline pairs) but near-linear;
        within-budget blocks keep the exact all-pairs path.
      - "error": raise ValueError naming the oversized blocks.
    The split costs one count aggregation over ids (no vectors shuffled).
    """
    counts = emb.groupBy(block_col).agg(F.count(F.lit(1)).alias("_bn"))
    oversized = counts.filter(F.col("_bn") > max_block).select(block_col)
    has_oversized = bool(oversized.head(1))
    small = emb
    if has_oversized:
        if on_oversize == "error":
            big = [r[0] for r in oversized.limit(10).collect()]
            raise ValueError(
                f"blocks over max_block={max_block} rows: {big} — "
                "all-pairs within a block is quadratic; use "
                "on_oversize='fallback' (SRP-LSH) or raise max_block"
            )
        if on_oversize != "fallback":
            raise ValueError("on_oversize must be 'fallback' or 'error'")
        small = emb.join(F.broadcast(oversized), block_col, "left_anti")
    # Exact all-pairs scoring per block as chunked BLAS GEMMs (one group
    # per blocking key via applyInPandas) instead of a self-join with a
    # JVM HOF dot per pair: same sims after ROUND_DIGITS rounding, only
    # survivors ≥ threshold materialize, and the row-chunking bounds the
    # in-memory sim matrix at chunk×block for blocks near max_block.
    import numpy as np

    block_type = dict(
        (f.name, f.dataType.simpleString()) for f in emb.schema
    )[block_col]
    out_schema = (
        f"{block_col} {block_type}, id_a long, id_b long, cosine double"
    )

    def score_block(pdf):
        import pandas as pd

        n = len(pdf)
        cols = [block_col, "id_a", "id_b", "cosine"]
        if n < 2:
            return pd.DataFrame({c: [] for c in cols})
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        nrm = np.linalg.norm(V, axis=1)
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        V, nrm, ids = V[order], nrm[order], ids[order]
        frames = []
        chunk = max(1, min(n, 4_000_000 // max(n, 1)))  # ≤ ~32 MB sims
        for s in range(0, n - 1, chunk):
            e = min(s + chunk, n)
            denom = nrm[s:e, None] * nrm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = np.where(denom == 0.0, 0.0, (V[s:e] @ V.T) / denom)
            sim = np.round((raw + 1.0) / 2.0, ROUND_DIGITS)
            # only pairs (i, j) with j > i globally: ids ascending
            ci, cj = np.nonzero(sim >= threshold)
            keep = cj > (ci + s)
            ci, cj = ci[keep], cj[keep]
            if len(ci):
                frames.append(
                    pd.DataFrame(
                        {
                            block_col: pdf[block_col].iloc[0],
                            "id_a": ids[ci + s],
                            "id_b": ids[cj],
                            "cosine": sim[ci, cj],
                        }
                    )
                )
        if not frames:
            return pd.DataFrame({c: [] for c in cols})
        return pd.concat(frames, ignore_index=True)

    exact = (
        small.select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(score_block, schema=out_schema)
    )
    if not has_oversized:
        return exact
    # oversized blocks: SRP-LSH with the block key folded into the bucket
    # join — near-linear, pairs still confined to their block
    big = emb.join(F.broadcast(oversized), block_col, "left_semi")
    from_srp = srp_cosine_pairs(
        big,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        block_col=block_col,
    )
    return exact.unionByName(from_srp.select(block_col, "id_a", "id_b", "cosine"))


def srp_hyperplanes(dim: int, n_bits: int = 16):
    """Deterministic ±1 random-hyperplane matrix (n_bits × dim): the sign
    of each cell comes from md5 of "{bit}_{dim}", so ANY engine can
    re-derive the identical matrix (the DuckDB oracle rebuilds it in SQL)
    — no RNG state to ship, no seed drift between engines."""
    import hashlib

    import numpy as np

    H = np.empty((n_bits, dim), dtype=np.float64)
    for b in range(n_bits):
        for d in range(dim):
            h = hashlib.md5(f"{b}_{d}".encode()).hexdigest()
            H[b, d] = 1.0 if int(h[0], 16) < 8 else -1.0
    return H


def srp_config_for(
    n: int,
    per_bucket: float = 16.0,
    raw_cosine: float = 0.9,
    recall: float = 0.9,
) -> tuple[int, int]:
    """Size the banding from the corpus: bits-per-band so the expected
    bucket load stays ~``per_bucket`` (candidate volume ≈ Σ bucket² —
    this is THE scale knob, BASELINE.md sweep), then enough bands that a
    true near-dup at ``raw_cosine`` collides with prob ≥ ``recall``.
    Returns (n_bits, bands)."""
    import math

    rows = max(4, math.ceil(math.log2(max(n, 2) / per_bucket)))
    p_bit = 1.0 - math.acos(min(1.0, max(-1.0, raw_cosine))) / math.pi
    p_band = p_bit**rows
    bands = max(2, math.ceil(math.log(1.0 - recall) / math.log(1.0 - p_band)))
    return rows * bands, bands


def srp_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_bits: int | None = None,
    bands: int | None = None,
    threshold: float = 0.65,
    block_col: str | None = None,
) -> DataFrame:
    """Near-dup pairs WITHOUT a blocking key: sign-random-projection LSH
    (Charikar's SimHash for vectors). Each vector gets an n_bits signature
    (sign of V·H per hyperplane, one Arrow-batched GEMM per partition);
    signatures band into ``bands`` buckets; vectors colliding on any band
    become candidates; candidates are verified with the exact cosine.

    Scale: candidate generation is an equi-join on (band, bucket) — the
    O(n²) all-pairs space never materializes, and collision probability
    decays with angle (P[same bit] = 1 − θ/π). BITS PER BAND is the knob
    that must grow with corpus size: bucket count per band is
    2^(n_bits/bands), and candidate volume ≈ Σ bucket², so too few bits
    per band re-creates the quadratic blow-up inside each bucket.
    Measured at 20k vectors (BASELINE.md): 4-bit bands → 760k pairs,
    48 s; 8-bit bands → 200-300k pairs, 4-5 s. With ``n_bits``/``bands``
    unset, the banding is auto-sized from a corpus count via
    `srp_config_for` (bits/band grows with log₂(n), band count with the
    recall target) — pass both explicitly to pin a configuration (the
    oracled suite query does, so its DuckDB twin can mirror it).
    This is the data-independent complement of `blocked_cosine_pairs`
    (which needs a label/blocking key). With ``block_col`` set, the block
    key joins the (band, bucket) equi-join keys, confining pairs to their
    block (used as `blocked_cosine_pairs`' oversized-block fallback).
    """
    import numpy as np

    if (n_bits is None) != (bands is None):
        raise ValueError("set both n_bits and bands, or neither")
    if n_bits is None:
        n_bits, bands = srp_config_for(emb.count())
    if n_bits % bands:
        raise ValueError("bands must divide n_bits")
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    H = srp_hyperplanes(dim, n_bits)
    rows = n_bits // bands
    # Verify IN PLACE: the signature rows carry the vector + its norm into
    # the bucket join, so each colliding pair is scored immediately and
    # `distinct` runs on the tiny post-threshold survivor set. The
    # alternative (distinct the candidate ids, then re-join the vectors
    # twice) shuffles the full multi-million-pair candidate table three
    # times — measured 1.8× slower at 100k vectors (BASELINE.md). A pair
    # colliding in k bands is scored k times, but those are exactly the
    # near-dups (rare); random pairs collide in ~1 band.
    block_ddl = ""
    in_cols = [id_col, vec_col]
    if block_col is not None:
        block_type = dict(
            (f.name, f.dataType.simpleString()) for f in emb.schema
        )[block_col]
        block_ddl = f", {block_col} {block_type}"
        in_cols.append(block_col)
    sig_schema = (
        f"{id_col} long, band int, bucket long, "
        f"{vec_col} array<float>, _n double{block_ddl}"
    )

    def sig(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            bits = (V @ H.T >= 0).astype(np.int64)  # n × n_bits
            nrm = np.linalg.norm(V, axis=1)
            ids = pdf[id_col].to_numpy()
            frames = []
            for bd in range(bands):
                seg = bits[:, bd * rows : (bd + 1) * rows]
                vals = (seg << np.arange(rows)).sum(axis=1)
                data = {
                    id_col: ids,
                    "band": bd,
                    "bucket": vals,
                    vec_col: pdf[vec_col],
                    "_n": nrm,
                }
                if block_col is not None:
                    data[block_col] = pdf[block_col]
                frames.append(pd.DataFrame(data))
            yield pd.concat(frames, ignore_index=True)

    banded = emb.select(*in_cols).mapInPandas(sig, schema=sig_schema)
    # Score each (band, bucket) group with ONE BLAS GEMM instead of a JVM
    # higher-order-function dot per pair: at 4-bit bands the candidate
    # volume is millions of pairs × dim HOF steps (HOFs don't codegen) —
    # the grouped GEMM computes the same sims in one matrix multiply per
    # bucket and only survivors ≥ threshold ever materialize as rows
    # (measured 3.5 s → ~1 s at sf0.1 with the suite's 16/4 banding).
    # Bucket size is bounded by the n_bits sizing (srp_config_for), so the
    # per-group sim matrix stays small at scale.
    group_keys = (["%s" % block_col] if block_col else []) + ["band", "bucket"]
    out_cols = ([block_col] if block_col else []) + ["id_a", "id_b"]
    out_schema = ", ".join(
        ([f"{block_col} {block_ddl.split()[-1]}"] if block_col else [])
        + ["id_a long", "id_b long", "cosine double"]
    )

    def score_group(pdf):
        import pandas as pd

        n = len(pdf)
        empty = pd.DataFrame({c: [] for c in out_cols + ["cosine"]})
        if n < 2:
            return empty
        V = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        nrm = pdf["_n"].to_numpy()
        denom = nrm[:, None] * nrm[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = np.where(denom == 0.0, 0.0, (V @ V.T) / denom)
        sim = np.round((raw + 1.0) / 2.0, ROUND_DIGITS)
        iu, ju = np.triu_indices(n, k=1)
        keep = sim[iu, ju] >= threshold
        if not keep.any():
            return empty
        ids = pdf[id_col].to_numpy()
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        swap = ia > ib
        ia2 = np.where(swap, ib, ia)
        ib2 = np.where(swap, ia, ib)
        data = {"id_a": ia2, "id_b": ib2, "cosine": sim[iu, ju][keep]}
        if block_col is not None:
            data[block_col] = pdf[block_col].iloc[0]
        return pd.DataFrame(data)

    return (
        banded.groupBy(*group_keys)
        .applyInPandas(score_group, schema=out_schema)
        .select(*out_cols, "cosine")
        .distinct()
    )


def srp_multiprobe_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_bits: int | None = None,
    bands: int | None = None,
    threshold: float = 0.65,
) -> DataFrame:
    """Multi-probe SRP-LSH (the Lv et al. multi-probe recipe —
    public): candidates collide when two band signatures agree EXACTLY
    or differ in at most one bit — the recall knob the plain banding
    lacks. Adding a band costs a full extra signature pass and another
    Σ bucket² candidate volume; probing the ``rows`` Hamming-1
    neighbor buckets reuses the signatures already computed and only
    multiplies the join's probe side by (rows+1). A true near-dup
    whose angle flips one marginal bit per band is invisible to exact
    banding at ANY band count, but always within one probe.

    Same output contract as `srp_cosine_pairs`:
    ``(id_a < id_b, cosine >= threshold)``, exact-cosine verified.
    Declarative shape: one signature pass (scan-side GEMM), the probe
    side explodes each (band, bucket) into its XOR-flip variants, one
    equi-join on (band, bucket), exact verify on the distinct
    candidates."""
    import numpy as np

    if (n_bits is None) != (bands is None):
        raise ValueError("set both n_bits and bands, or neither")
    if n_bits is None:
        n_bits, bands = srp_config_for(emb.count())
    if n_bits % bands:
        raise ValueError("bands must divide n_bits")
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    rows = n_bits // bands
    H = srp_hyperplanes(dim, n_bits)

    def sig(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            bits = (V @ H.T >= 0).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            frames = []
            for bd in range(bands):
                seg = bits[:, bd * rows : (bd + 1) * rows]
                vals = (seg << np.arange(rows)).sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {id_col: ids, "band": bd, "bucket": vals}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    sigs = (
        emb.select(id_col, vec_col)
        .mapInPandas(sig, schema=f"{id_col} long, band int, bucket long")
        .localCheckpoint(eager=False)
    )
    flips = [0] + [1 << j for j in range(rows)]
    a = sigs.select(F.col(id_col).alias("_ida"), "band", "bucket")
    b = sigs.select(
        F.col(id_col).alias("_idb"), "band", "bucket"
    ).withColumn(
        "_f", F.explode(F.array(*[F.lit(f) for f in flips]))
    ).select(
        "_idb",
        "band",
        F.col("bucket").bitwiseXOR(F.col("_f")).alias("bucket"),
    )
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("_ida") < F.col("_idb"))
        .select("_ida", "_idb")
        .distinct()
    )
    va = emb.select(
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
        norm2(F.col(vec_col)).alias("_na"),
    )
    vb = emb.select(
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
        norm2(F.col(vec_col)).alias("_nb"),
    )
    scored = cand.join(va, "_ida").join(vb, "_idb").select(
        F.col("_ida").alias("id_a"),
        F.col("_idb").alias("id_b"),
        F.round(
            _cosine_from_parts(
                dot(F.col("_va"), F.col("_vb")),
                F.col("_na"),
                F.col("_nb"),
            ),
            ROUND_DIGITS,
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= threshold)


def srp_cross_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int | None = None,
    bands: int | None = None,
    threshold: float = 0.65,
) -> DataFrame:
    """Near-dup pairs BETWEEN two corpora — embedding-level train/eval
    decontamination (the semantic complement of the n-gram
    `contamination` operator: paraphrased benchmark leakage that shares
    no 5-gram still lands in the same LSH bucket). Returns
    ``(train_id, eval_id, cosine)``.

    Reuses the full srp_cosine_pairs machinery (banded signatures, one
    GEMM per bucket, in-place verify) by re-keying ids with a side
    parity bit and keeping only cross-side survivors — both corpora are
    banded in ONE pass and within-side pairs never leave the bucket
    scorer's output filter. Same scale bound: candidate volume is
    Σ bucket², controlled by bits-per-band."""
    u = train.select(
        (F.col(id_col) * 2).alias(id_col), vec_col
    ).unionByName(
        eval_df.select((F.col(id_col) * 2 + 1).alias(id_col), vec_col)
    )
    pairs = srp_cosine_pairs(
        u, id_col, vec_col, n_bits=n_bits, bands=bands, threshold=threshold
    )
    cross = pairs.filter(
        F.pmod("id_a", F.lit(2)) != F.pmod("id_b", F.lit(2))
    )
    train_key = F.when(
        F.pmod("id_a", F.lit(2)) == 0, F.col("id_a")
    ).otherwise(F.col("id_b"))
    eval_key = F.when(
        F.pmod("id_a", F.lit(2)) == 1, F.col("id_a")
    ).otherwise(F.col("id_b"))
    # shiftright keeps the decode in exact integer arithmetic (a double
    # division would lose ids past 2^53)
    return cross.select(
        F.shiftright(train_key.cast("long"), 1).alias("train_id"),
        F.shiftright(eval_key.cast("long"), 1).alias("eval_id"),
        "cosine",
    )


def assign_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    method: str = "numpy",
) -> DataFrame:
    """IVF build: nearest centroid per vector (ties → smallest centroid id).

    Zero-shuffle either way: the centroid set is small by construction (it
    IS the IVF coarse quantizer), so it ships inside the task closure and
    assignment is a pure scan-stage map — no crossJoin (which would
    replicate every vector C times through a window sort shuffle). Write
    the result partitioned by centroid_id for probe-time partition pruning.

    ``method="numpy"`` (default): one Arrow-batched (n×d)·(d×C) GEMM per
    batch — the HOF-dot expression path ("expr") computes C×d
    higher-order-function steps per row outside codegen, measured ~2×
    slower at 5k×64×16. Both round to ROUND_DIGITS before the argmax, so
    assignments are identical (the ann_topk_numpy parity precedent)."""
    import math

    cents = centroids.select(centroid_id_col, vec_col).collect()
    if method == "numpy":
        import numpy as np

        cents_sorted = sorted(cents, key=lambda r: r[0])
        cids = np.array([r[0] for r in cents_sorted], dtype=np.int64)
        C = np.array(
            [np.asarray(r[1], dtype=np.float64) for r in cents_sorted]
        )
        cn = np.linalg.norm(C, axis=1)
        fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in corpus.schema
        )
        out_schema = f"{fields}, {centroid_id_col} long"

        def run(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.array(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                vn = np.linalg.norm(V, axis=1)
                denom = vn[:, None] * cn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    raw = np.where(denom == 0.0, 0.0, (V @ C.T) / denom)
                sim = np.round((raw + 1.0) / 2.0, ROUND_DIGITS)
                # argmax returns the FIRST max; rows are cid-ascending →
                # ties resolve to the smallest centroid id
                best = cids[np.argmax(sim, axis=1)]
                pdf = pdf.copy()
                pdf[centroid_id_col] = best
                yield pdf

        return corpus.mapInPandas(run, schema=out_schema)
    if method != "expr":
        raise ValueError("method must be 'numpy' or 'expr'")
    cstructs = []
    for r in cents:
        cid, cvec = r[0], [float(x) for x in r[1]]
        cn = math.sqrt(sum(x * x for x in cvec))
        cstructs.append(
            F.struct(
                F.lit(cid).alias("cid"),
                F.array(*[F.lit(x) for x in cvec]).alias("cvec"),
                F.lit(cn).alias("cn"),
            )
        )
    carr = F.array(*cstructs)

    # vn sits inside the per-centroid lambda, so it is re-evaluated per
    # centroid (~2x the scoring cost, NOT asymptotic: dot() is O(d) per
    # centroid anyway). Tolerated on this non-default fallback path —
    # the numpy method is the production one; a materialized-column
    # barrier here would not survive CollapseProject's single-reference
    # inlining without an artificial multi-ref.
    vn = norm2(F.col(vec_col))
    scored = F.transform(
        carr,
        lambda c: F.struct(
            F.round(
                _cosine_from_parts(
                    dot(F.col(vec_col), c["cvec"]), vn, c["cn"]
                ),
                ROUND_DIGITS,
            ).alias("sim"),
            (-c["cid"]).alias("neg_cid"),
            c["cid"].alias("cid"),
        ),
    )
    # struct max: highest sim, then highest -cid (= smallest centroid id)
    return corpus.withColumn(
        centroid_id_col, F.array_max(scored)["cid"]
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    threshold: float = 0.65,
    centroids: DataFrame | None = None,
    max_block: int = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public): cluster embeddings coarsely, compare
    pairs ONLY within a cluster, keep one representative per ε-ball.

      1. coarse clustering: `assign_centroids` (zero-shuffle — centroids
         ship in the task closure). ``centroids=None`` uses the
         deterministic k-lowest-id init (`kmeans_centroids` iters=0) so
         any engine reproduces the blocking; pass trained centroids for
         production quality.
      2. within-cluster exact cosine pairs via `blocked_cosine_pairs`
         (O(cluster²) bounded by ``max_block`` with SRP-LSH fallback —
         the cluster count is the scale knob, exactly SemDeDup's k).
      3. keep rule: a row is DROPPED iff a lower-id row in the same
         cluster is within ``threshold`` (remapped cosine ≥ threshold) —
         the greedy min-id representative per ε-ball.

    Returns (id, centroid_id, keep BOOLEAN). At 100 TB: vectors never
    self-join across clusters, the pair stage shuffles only
    (cluster, id, vector) once via the groupBy, and the keep decision is
    one distinct + left join on ids.
    """
    if centroids is None:
        centroids = kmeans_centroids(
            emb, k=k, iters=0, id_col=id_col, vec_col=vec_col
        )
    assigned = assign_centroids(
        emb, centroids, id_col=id_col, vec_col=vec_col
    )
    pairs = blocked_cosine_pairs(
        assigned,
        id_col=id_col,
        vec_col=vec_col,
        block_col="centroid_id",
        threshold=threshold,
        max_block=max_block,
    )
    # id_a < id_b by construction, so id_b always has a lower-id
    # neighbor in range: exactly the set of dropped rows.
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return (
        assigned.select(id_col, "centroid_id")
        .join(dropped.withColumn("_drop", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "centroid_id",
            F.col("_drop").isNull().alias("keep"),
        )
    )


def prototype_prune(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    keep_frac: float = 0.75,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """D4-style SSL-prototype pruning (Sorscher et al. 2022 prototypes;
    Tirumala et al. 2023 "D4", arXiv:2308.12284 — public): after coarse
    clustering, a point's cosine similarity to its OWN cluster centroid
    measures prototypicality; the most prototypical points are the most
    redundant, so pruning keeps the ``ceil(keep_frac * n_cluster)``
    LEAST prototypical rows per cluster (D4 runs this after SemDeDup —
    compose with `semantic_dedup` by filtering its keeps first).

    Deterministic: prototypicality is the ROUND_DIGITS-rounded remapped
    cosine, ranked (proto_sim asc, id asc). Returns
    (id, centroid_id, proto_sim, keep).

    Scale: assignment is the zero-shuffle `assign_centroids` pass;
    centroids broadcast onto their rows (they ARE the coarse quantizer —
    tiny by construction); the only shuffle is the per-cluster rank
    window, whose parallelism is the cluster count — D4 uses ~11k
    clusters at web scale, so partitions stay balanced. ``centroids=None``
    uses the deterministic k-lowest-id init so any engine reproduces the
    blocking; pass trained centroids for production quality.
    """
    from embeddingsearch_spark.functions import similarity
    from embeddingsearch_spark.functions.vectors import as_double

    if centroids is None:
        centroids = kmeans_centroids(
            emb, k=k, iters=0, id_col=id_col, vec_col=vec_col
        )
    assigned = assign_centroids(
        emb, centroids, id_col=id_col, vec_col=vec_col
    )
    cent = centroids.select(
        "centroid_id", F.col(vec_col).cast("array<double>").alias("_c")
    )
    proto = F.round(
        similarity.cosine(as_double(F.col(vec_col)), F.col("_c")),
        ROUND_DIGITS,
    )
    scored = assigned.join(F.broadcast(cent), "centroid_id").select(
        F.col(id_col),
        F.col("centroid_id"),
        proto.alias("proto_sim"),
    )
    w = Window.partitionBy("centroid_id").orderBy(
        F.col("proto_sim").asc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy("centroid_id")
    return scored.select(
        id_col,
        "centroid_id",
        "proto_sim",
        (
            F.row_number().over(w)
            <= F.ceil(F.count(F.lit(1)).over(wc) * F.lit(keep_frac))
        ).alias("keep"),
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means for the IVF coarse quantizer (cosine assignment,
    elementwise-mean update). Deterministic: init = the k lowest-id
    vectors; empty clusters keep their previous centroid.

    Each iteration = one zero-shuffle assignment pass (literal centroid
    array, see assign_centroids) + ONE map-side-combinable groupBy with
    `dim` scalar avg aggregates — no posexplode shuffle of (row × dim)
    pairs. Iterative algorithms on DataFrames: the loop lives on the
    driver, every pass is a full declarative plan."""
    first = corpus.select(vec_col).first()
    if first is None:
        return corpus.sparkSession.createDataFrame(
            [], f"centroid_id long, {vec_col} array<double>"
        )
    dim = len(first[0])
    spark = corpus.sparkSession
    cent_schema = f"centroid_id long, {vec_col} array<double>"
    # Centroids live DRIVER-SIDE between iterations (k tiny rows — they're
    # collected inside assign_centroids anyway to build literal arrays).
    # Keeping them as a DataFrame would grow the lineage every iteration:
    # iteration i re-executes all i-1 previous assignment passes on each
    # collect — O(iters²) corpus scans. This way each iteration is exactly
    # ONE declarative pass over the corpus.
    init_rows = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col).cast("array<double>"))
        .collect()
    )
    cents_py = [
        (cid, [float(x) for x in r[0]]) for cid, r in enumerate(init_rows)
    ]
    for _ in range(iters):
        cents = spark.createDataFrame(cents_py, cent_schema)
        assigned = assign_centroids(corpus, cents, id_col, vec_col)
        means = assigned.groupBy("centroid_id").agg(
            F.array(
                *[F.avg(F.col(vec_col)[i]) for i in range(dim)]
            ).alias("_mean"),
        ).collect()
        by_cid = {r[0]: r[1] for r in means}
        # empty clusters keep their previous centroid
        cents_py = [
            (cid, [float(x) for x in by_cid.get(cid, vec)])
            for cid, vec in cents_py
        ]
    return spark.createDataFrame(cents_py, cent_schema)


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """IVF probe: per query, rank centroids, keep ``nprobe`` nearest, search
    only vectors assigned to those centroids."""
    probe = brute_force_topk(
        centroids, queries, k=nprobe,
        id_col=centroid_id_col, vec_col=vec_col, query_id_col=query_id_col,
    ).select(query_id_col, centroid_id_col)
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        norm2(F.col(vec_col)).alias("_qn"),
    )
    cand = (
        assigned.withColumn("_vn", norm2(F.col(vec_col)))
        .join(F.broadcast(probe), centroid_id_col)
        .join(F.broadcast(q), query_id_col)
    )
    return _rank_by_cosine(cand, k, id_col, vec_col, query_id_col)


def save_ivf_index(
    assigned: DataFrame,
    centroids: DataFrame,
    prefix: str,
    n_buckets: int = 8,
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
) -> tuple[str, str]:
    """PERSIST the IVF index: the assigned corpus saved PARTITIONED by
    ``centroid_id`` (the design note on `ivf_topk` made real — a probe
    touching ``nprobe`` of C centroids prunes the scan to nprobe/C of
    the data via static partition pruning) and bucketed by id within
    each partition; the centroid table (tiny — it IS the quantizer)
    saved plain. Cross-session reuse needs a persistent metastore.
    Returns the two table names."""
    from embeddingsearch_spark.storage import drop_table, replace_bucketed

    replace_bucketed(
        assigned,
        f"{prefix}_assigned",
        [id_col],
        n_buckets=n_buckets,
        partition_cols=[centroid_id_col],
    )
    drop_table(centroids.sparkSession, f"{prefix}_centroids")
    centroids.write.saveAsTable(f"{prefix}_centroids")
    return f"{prefix}_assigned", f"{prefix}_centroids"


def ivf_topk_from_index(
    spark,
    prefix: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """`ivf_topk` over a persisted `save_ivf_index` — identical output
    (same oracle). The probed centroid ids (≤ C values, the quantizer
    is bounded by construction) are collected into a literal isin
    filter on the PARTITION column, so the scan statically prunes to
    the probed partitions before any join runs — the read-side win the
    partitioned layout exists for."""
    cents = spark.table(f"{prefix}_centroids")
    assigned = spark.table(f"{prefix}_assigned")
    probe = brute_force_topk(
        cents, queries, k=nprobe,
        id_col=centroid_id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    probed = [
        r[0]
        for r in probe.select(centroid_id_col).distinct().collect()
    ]
    pruned = assigned.filter(F.col(centroid_id_col).isin(probed))
    return ivf_topk(
        pruned, cents, queries, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        centroid_id_col=centroid_id_col,
    )


def upsert_ivf_index(
    spark,
    prefix: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    n_buckets: int = 8,
    deleted_ids: DataFrame | None = None,
    sink=None,
) -> str:
    """Incremental IVF maintenance: assign ONLY the batch under the
    persisted (FIXED) centroid table — assignments of unchanged
    vectors cannot change under a fixed quantizer, the invariant the
    whole index family shares — then DELETE-INSERT through the storage
    seam. The default sink is `PartitionOverwriteSink` on the
    centroid-id partition column: the assigned table is PARTITIONED by
    centroid, so an upsert rewrites only the partitions the batch's
    vectors assign into (plus those its deleted/changed ids currently
    occupy) — ingest cost scales with the batch's centroid spread, not
    the corpus. A vector whose nearest centroid changed moves
    partitions via the seam's affected-partition union. Re-train
    centroids offline and rebuild to re-center. ``deleted_ids`` wins
    over a conflicting batch row."""
    from embeddingsearch_spark.sink import PartitionOverwriteSink

    sink = sink or PartitionOverwriteSink(centroid_id_col)
    cents = spark.table(f"{prefix}_centroids")
    dk = new_vectors.select(id_col).distinct()
    if deleted_ids is not None:
        dd = deleted_ids.select(
            F.col(deleted_ids.columns[0]).alias(id_col)
        ).distinct()
        new_vectors = new_vectors.join(dd, id_col, "left_anti")
        dk = dk.unionByName(dd).distinct()
    assigned = assign_centroids(
        new_vectors, cents, id_col=id_col, vec_col=vec_col,
        centroid_id_col=centroid_id_col,
    )
    sink.delete_insert(
        spark, f"{prefix}_assigned", assigned, [id_col],
        delete_keys=dk, bucket_cols=[id_col], n_buckets=n_buckets,
        partition_cols=[centroid_id_col],
    )
    return f"{prefix}_assigned"


def assign_centroids_federated(
    corpus: DataFrame,
    centroids: DataFrame,
    partition_col: str = "source",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Per-collection coarse quantizers in ONE corpus pass: each vector
    assigns to the nearest centroid OF ITS OWN collection — the
    reference's per-searchdomain corpus semantics (Searchdomain.cs:
    183-258) applied to the vector index, the dense twin of
    `build_partitioned_postings_index`'s per-tenant stats. All
    collections' centroid tables together are still "small by
    construction" (each IS a coarse quantizer), so they ship in the
    task closure keyed by collection and assignment stays a
    zero-shuffle scan-stage GEMM — same remap/round/argmax-tiebreak as
    `assign_centroids` (a single-collection corpus assigns
    identically; tested). Vectors whose collection has no quantizer
    are NOT indexed (dropped — an unknown tenant needs onboarding, not
    a silent cross-tenant assignment)."""
    import numpy as np

    cents = centroids.select(
        partition_col, centroid_id_col, vec_col
    ).collect()
    grouped: dict = {}
    for r in sorted(cents, key=lambda r: (str(r[0]), r[1])):
        grouped.setdefault(r[0], []).append(r)
    packs = {}
    for t, rows in grouped.items():
        cids = np.array([r[1] for r in rows], dtype=np.int64)
        C = np.array(
            [np.asarray(r[2], dtype=np.float64) for r in rows]
        )
        packs[t] = (cids, C, np.linalg.norm(C, axis=1))
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in corpus.schema
    )
    out_schema = f"{fields}, {centroid_id_col} long"

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True).copy()
            out = np.full(len(pdf), -1, dtype=np.int64)
            for t, grp in pdf.groupby(partition_col, sort=False):
                pack = packs.get(t)
                if pack is None:
                    continue
                cids, C, cn = pack
                V = np.array(
                    [
                        np.asarray(v, dtype=np.float64)
                        for v in grp[vec_col]
                    ]
                )
                vn = np.linalg.norm(V, axis=1)
                denom = vn[:, None] * cn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    raw = np.where(
                        denom == 0.0, 0.0, (V @ C.T) / denom
                    )
                sim = np.round((raw + 1.0) / 2.0, ROUND_DIGITS)
                out[grp.index.to_numpy()] = cids[
                    np.argmax(sim, axis=1)
                ]
            pdf[centroid_id_col] = out
            yield pdf[pdf[centroid_id_col] >= 0]

    return corpus.mapInPandas(run, schema=out_schema)


def save_federated_ivf_index(
    assigned: DataFrame,
    centroids: DataFrame,
    prefix: str,
    partition_col: str = "source",
    n_buckets: int = 8,
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
) -> tuple[str, str]:
    """PERSIST the multi-tenant IVF index: the per-tenant-assigned
    corpus saved PARTITIONED by (collection, centroid_id) — a routed
    probe statically prunes on BOTH levels (its own tenant's subtree,
    then nprobe of that tenant's cells), and a tenant's ingest
    rewrites only its own partitions — with the per-tenant centroid
    tables (tiny) saved together, keyed by the collection column."""
    from embeddingsearch_spark.storage import drop_table, replace_bucketed

    replace_bucketed(
        assigned,
        f"{prefix}_assigned",
        [id_col],
        n_buckets=n_buckets,
        partition_cols=[partition_col, centroid_id_col],
    )
    drop_table(centroids.sparkSession, f"{prefix}_centroids")
    centroids.write.saveAsTable(f"{prefix}_centroids")
    return f"{prefix}_assigned", f"{prefix}_centroids"


def ivf_config_for(n: int, k: int = 10, recall_target: float = 0.9) -> dict:
    """Size the IVF quantizer + probe width from the corpus — the
    `graph_config_for`/`pq_config_for` convention for the cell-probed
    family, constants pinned by the BASELINE.md round-8 probe over
    uniform-random per-tenant corpora (the family's WORST case: recall
    tracks the probed-cell fraction, measured recall ≈ frac^0.4 — 0.2
    of cells → 0.50, 0.5 → 0.78, 0.7 → 0.90, stable across
    n_cents ∈ {8,16,32} at n=1000):

    - ``n_cents``: √n (floor(√n + 0.5), clamped [4, 4096]) — the
      standard balance between the per-query centroid ranking cost
      (n_cents distance evals) and the per-cell scan unit (n/n_cents
      rows); recall depends on the probed FRACTION, not the cell
      count, so √n costs nothing in quality;
    - ``nprobe``: ceil(recall_target^2.5 × n_cents) — the inverse of
      the measured frac→recall curve, so the rule's config reaches
      ``recall_target`` on uniform-random vectors (clustered real
      corpora reach it at far smaller nprobe; this is the
      conservative floor). recall 0.9 → probe ~77% of cells — the
      honest price of high recall on structureless data, and exactly
      the trade BASELINE.md documents (the hand-picked 16-cent/
      nprobe=4 config measured 0.549/0.499).

    Sized per COLLECTION for the federated family — each tenant's
    quantizer grows with ITS corpus. Returns
    ``{"n_cents": int, "nprobe": int}``."""
    import math

    n = max(int(n), 4)
    n_cents = int(min(4096, max(4, math.floor(math.sqrt(n) + 0.5))))
    frac = min(1.0, max(0.0, float(recall_target)) ** 2.5)
    nprobe = int(min(n_cents, max(1, math.ceil(frac * n_cents))))
    return {"n_cents": n_cents, "nprobe": nprobe}


def ivf_auto_nprobe(
    spark,
    prefix: str,
    partition_col: str = "source",
    recall_target: float = 0.9,
) -> dict:
    """{tenant: nprobe} from the LIVE per-tenant quantizer sizes of a
    persisted federated IVF index — `ivf_config_for`'s probe-width
    rule (ceil(target^2.5 × n_cents), the measured uniform-random
    recall curve's inverse) applied to each collection's ACTUAL
    centroid count, so the serve-time width always matches the
    quantizer it probes (a retrained/re-sized tenant's width follows
    automatically). One bounded collect: a row per collection."""
    import math

    frac = min(1.0, max(0.0, float(recall_target)) ** 2.5)
    return {
        str(r[0]): int(
            min(int(r[1]), max(1, math.ceil(frac * int(r[1]))))
        )
        for r in spark.table(f"{prefix}_centroids")
        .groupBy(partition_col)
        .count()
        .collect()
    }


def _corpus_sample_pred(id_col: str, fraction: float):
    """Deterministic corpus-sample predicate for the calibration
    ground-truth passes: crc32 of the id's text form modulo 10000 —
    stable across runs/engines, no RNG (the engine-wide no-wall-clock
    rule's sampling twin). ``fraction`` >= 1 keeps everything."""
    return (
        F.crc32(F.col(id_col).cast("string")) % 10000
        < int(float(fraction) * 10000)
    )


def _resolve_nprobe(spark, prefix, nprobe, route, partition_col, calibrate):
    """The one place a federated IVF probe width is picked, for every
    serve layout (raw, SQ8, SQ4; direct, cached, aliased) and for
    `ivf_scan_cost`. An int passes through. A ``{tenant: width}`` map
    must cover every routed tenant: the width join is inner, so a gap
    would silently serve that tenant ZERO candidates (the collect is
    validation-only, so only user maps pay it). ``"auto"`` is the rule
    over the live quantizer sizes (`ivf_auto_nprobe`), ``"calibrated"``
    is ``calibrate()`` (the caller's measurement on its own query
    batch), and ``"stored"`` reads the persisted per-generation
    calibration back (`ivf_stored_nprobe`, rule floor for tenants
    onboarded since). Anything else raises."""
    if isinstance(nprobe, dict):
        routed = route.select(partition_col).distinct().collect()
        gap = sorted(
            {str(r[0]) for r in routed} - {str(t) for t in nprobe}
        )
        if gap:
            raise ValueError(
                f"nprobe map missing routed collections: {gap}"
            )
        return nprobe
    if not isinstance(nprobe, str):
        return nprobe
    if nprobe == "auto":
        return ivf_auto_nprobe(spark, prefix, partition_col)
    if nprobe == "calibrated":
        return calibrate()
    if nprobe == "stored":
        from embeddingsearch_spark.operators.calibration import (
            ivf_stored_nprobe,
        )

        return ivf_stored_nprobe(spark, prefix, partition_col)
    raise ValueError(
        f"unknown nprobe {nprobe!r} (use 'auto', 'calibrated', or 'stored')"
    )


def _query_vectors(queries, route, partition_col, vec_col, query_id_col):
    """Each routed query's vector and norm: (query_id, tenant, _qvec,
    _qn)."""
    return queries.join(
        F.broadcast(route.select(query_id_col, partition_col)),
        query_id_col,
    ).select(
        query_id_col,
        partition_col,
        F.col(vec_col).alias("_qvec"),
        norm2(F.col(vec_col)).alias("_qn"),
    )


def _probe_cells(
    spark, prefix, qv, route, nprobe,
    partition_col, vec_col, query_id_col, centroid_id_col,
):
    """The cell probe of a federated IVF index: each query's OWN
    tenant's cells ranked by rounded centroid cosine (desc, cell id
    asc) as ``_r``. With a resolved ``nprobe`` (int or map) only the
    first ``_np`` cells per query are kept; ``None`` keeps them all.
    The quantizer is trimmed to the routed tenants by a semi-join
    inside the broadcast build, with no driver collect; the inner probe
    join enforces routing regardless, so the trim only saves size."""
    cents = spark.table(f"{prefix}_centroids").join(
        F.broadcast(route.select(partition_col).distinct()),
        partition_col,
        "left_semi",
    )
    pc = cents.select(
        partition_col,
        centroid_id_col,
        F.col(vec_col).alias("_cvec"),
        norm2(F.col(vec_col)).alias("_cn"),
    )
    psim = _cosine_from_parts(
        dot(F.col("_cvec"), F.col("_qvec")),
        F.col("_cn"),
        F.col("_qn"),
    )
    pw = Window.partitionBy(query_id_col).orderBy(
        F.col("_psim").desc(), F.col(centroid_id_col).asc()
    )
    ranked = (
        qv.join(F.broadcast(pc), partition_col)
        .select(
            query_id_col,
            partition_col,
            centroid_id_col,
            F.round(psim, ROUND_DIGITS).alias("_psim"),
        )
        .withColumn("_r", F.row_number().over(pw))
    )
    if nprobe is None:
        return ranked
    if isinstance(nprobe, dict):
        np_map = tables.literal_frame(
            spark,
            [(str(t), int(v)) for t, v in sorted(nprobe.items())],
            f"{partition_col} string, _np int",
        )
        ranked = ranked.join(F.broadcast(np_map), partition_col)
    else:
        ranked = ranked.withColumn("_np", F.lit(int(nprobe)))
    return ranked.filter(F.col("_r") <= F.col("_np"))


def _ivf_serve(
    spark, prefix, queries, route, k, nprobe, scan,
    partition_col, id_col, vec_col, query_id_col, centroid_id_col,
):
    """The federated IVF serve shared by every storage layout: resolve
    the probe width, probe each query's own tenant's cells, cut the
    index to the probed (tenant, cell) partitions with a literal
    two-level predicate (static pruning, so no other tenant's files are
    read), then score exact cosine and keep the top ``k`` per query.

    ``scan(pred)`` is the layout: it returns the rows of the partitions
    matching ``pred`` as (id, tenant, cell, vector) columns — the raw
    table as stored, or compressed codes decoded. Calibration measures
    against ``scan`` over every cell, the fidelity this serve scores
    at. The probe collect is bounded by |queries| x nprobe."""
    from embeddingsearch_spark.operators.retrieval import (
        _partition_filter,
    )

    nprobe = _resolve_nprobe(
        spark, prefix, nprobe, route, partition_col,
        lambda: ivf_calibrated_nprobe(
            spark, prefix, queries, route, k=k,
            partition_col=partition_col, id_col=id_col,
            vec_col=vec_col, query_id_col=query_id_col,
            centroid_id_col=centroid_id_col,
            assigned_df=scan(F.lit(True)),
        ),
    )
    qv = _query_vectors(
        queries, route, partition_col, vec_col, query_id_col
    )
    probe = _probe_cells(
        spark, prefix, qv, route, nprobe,
        partition_col, vec_col, query_id_col, centroid_id_col,
    ).select(
        query_id_col, partition_col, centroid_id_col
    ).localCheckpoint(eager=False)
    pairs = probe.select(partition_col, centroid_id_col).distinct().collect()
    cand = (
        scan(_partition_filter([partition_col, centroid_id_col], pairs))
        .withColumn("_vn", norm2(F.col(vec_col)))
        .join(F.broadcast(probe), [partition_col, centroid_id_col])
        .join(
            F.broadcast(qv.select(query_id_col, "_qvec", "_qn")),
            query_id_col,
        )
    )
    return _rank_by_cosine(cand, k, id_col, vec_col, query_id_col)


def ivf_calibrated_nprobe(
    spark,
    prefix: str,
    sample_queries: DataFrame,
    route: DataFrame,
    k: int = 10,
    recall_target: float = 0.9,
    sample_per_tenant: int = 64,
    corpus_sample: float | None = None,
    partition_col: str = "source",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
    assigned_df: DataFrame | None = None,
) -> dict:
    """MEASURED-recall probe widths for a persisted federated IVF
    index — the scale path past `ivf_auto_nprobe`'s uniform-random
    worst-case rule (which probes ~77% of cells at target 0.9 on
    EVERY corpus): per tenant, measure recall@k of the live index on
    a bounded query sample and pick the SMALLEST width that reaches
    ``recall_target``, so a clustered real corpus (where the nearest
    neighbors concentrate in few cells) probes the few cells it
    actually needs instead of the structureless floor.

    How the measurement works — one pass, every width at once. For a
    probed exact-top-k member, the serve scores true cosine, so any
    exact member inside the probed cells ALWAYS lands in the served
    top-k (at most k-1 vectors outrank it anywhere, under the same
    rounding + id tie-break). Recall@k at width w is therefore
    exactly (#exact members whose cell ranks ≤ w in the query's
    probe order) / (k·|sample|) — measured for ALL widths by one
    exact top-k pass plus one cell ranking, no re-serving per width.
    The calibrated width is the ceil(target·m)-th smallest "cell
    rank needed" over the tenant's sample pairs.

    Cost & fallback: the exact pass scans each routed tenant's
    assigned partitions once against ≤ ``sample_per_tenant`` queries
    (deterministically the lowest query_ids per tenant) — a bounded
    offline calibration, the same shape as one brute-force serve of
    the sample; run it per index generation, not per query. At 100-TB
    tenants bound the CORPUS side too with ``corpus_sample`` (a
    deterministic crc32 cut applied to the exact pass only — cell
    ranks stay full-width, ground-truth membership becomes the
    sampled tenant's top-k, the standard ANN-calibration estimate).
    Tenants
    with centroids but NO sample queries fall back to the
    `ivf_config_for` rule width (`ivf_auto_nprobe`) — the
    conservative floor. ``assigned_df`` overrides the
    ``{prefix}_assigned`` table as the ground-truth corpus — the
    COMPRESSED layout passes its dequantized codes here, so the
    measurement reflects the fidelity the serve actually scores at
    (must carry collection, cell, id, and vector columns). Driver
    state: one (tenant, need) histogram,
    ≤ tenants × n_cents rows. Returns ``{tenant: nprobe}``,
    accepted anywhere `ivf_federated_from_index` takes a dict;
    ``nprobe="calibrated"`` threads here from the production serves
    (direct, cached, aliased) using the serve's own query batch as
    the sample."""
    import math

    out = ivf_auto_nprobe(spark, prefix, partition_col, recall_target)
    ws = Window.partitionBy(partition_col).orderBy(
        F.col(query_id_col).asc()
    )
    qs = (
        _query_vectors(
            sample_queries, route, partition_col, vec_col, query_id_col
        )
        .withColumn("_sr", F.row_number().over(ws))
        .filter(F.col("_sr") <= int(sample_per_tenant))
        .drop("_sr")
        .localCheckpoint(eager=False)
    )
    routed = [
        r[0] for r in qs.select(partition_col).distinct().collect()
    ]
    if not routed:
        return out
    ranks = _probe_cells(
        spark, prefix, qs, route, None,
        partition_col, vec_col, query_id_col, centroid_id_col,
    ).select(query_id_col, centroid_id_col, F.col("_r").alias("_need"))
    corpus = (
        assigned_df
        if assigned_df is not None
        else spark.table(f"{prefix}_assigned")
    )
    pruned = corpus.filter(F.col(partition_col).isin(routed))
    if corpus_sample is not None and corpus_sample < 1.0:
        pruned = pruned.filter(
            _corpus_sample_pred(id_col, corpus_sample)
        )
    sim = _cosine_from_parts(
        dot(F.col(vec_col), F.col("_qvec")),
        F.col("_vn"),
        F.col("_qn"),
    )
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("_sim").desc(), F.col(id_col).asc()
    )
    exact = (
        pruned.withColumn("_vn", norm2(F.col(vec_col)))
        .join(F.broadcast(qs), partition_col)
        .select(
            query_id_col,
            partition_col,
            centroid_id_col,
            F.col(id_col),
            F.round(sim, ROUND_DIGITS).alias("_sim"),
        )
        .withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= int(k))
    )
    hist = (
        exact.join(ranks, [query_id_col, centroid_id_col])
        .groupBy(partition_col, "_need")
        .count()
        .collect()
    )  # bounded: <= routed tenants x n_cents rows
    dist: dict = {}
    for r in hist:
        dist.setdefault(str(r[0]), {})[int(r[1])] = int(r[2])
    for t, d in dist.items():
        m = sum(d.values())
        pos = max(1, math.ceil(float(recall_target) * m))
        acc = 0
        for needv in sorted(d):
            acc += d[needv]
            if acc >= pos:
                out[t] = int(needv)
                break
    return out


def ivf_federated_from_index(
    spark,
    prefix: str,
    queries: DataFrame,
    route: DataFrame,
    k: int = 10,
    nprobe: int | dict | str = 2,
    partition_col: str = "source",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Tenant-routed IVF serving over `save_federated_ivf_index` — the
    vector twin of `bm25_federated_from_index`: each query probes ONLY
    the centroids of the collection ``route`` addresses it to (the
    per-tenant quantizer), and the probed (collection, centroid)
    pairs become a literal two-level partition predicate on the
    assigned table — tenant isolation enforced by the scan, which
    reads ≤ nprobe/C_t of each routed tenant's vectors and NOTHING of
    any other tenant's. The probe collect is bounded by
    |queries| × nprobe (the same contract as `ivf_topk_from_index`;
    batch-serve huge query sets through the join path instead).
    ``nprobe`` may be a ``{tenant: nprobe}`` map (the `ivf_config_for`
    per-collection sizing — each tenant's probe width grows with ITS
    quantizer; string tenant keys, the federated convention): the
    per-query cut then follows the query's OWN collection's width.
    ``nprobe="auto"`` derives that map from the LIVE per-tenant
    quantizer sizes at the rule's 0.9 recall target
    (`ivf_auto_nprobe`) — so the production serves (direct, cached,
    aliased — all of which thread ``nprobe`` here) pick up the sizing
    rule without the caller re-deriving it. ``nprobe="calibrated"``
    instead MEASURES each tenant's width on this serve's own query
    batch against the live index (`ivf_calibrated_nprobe` — smallest
    width reaching recall 0.9 on the sample, rule as the unsampled
    fallback): on clustered corpora it probes a fraction of the
    rule's worst-case width at the same recall; the calibration pass
    costs one bounded-sample exact scan, so use it per index
    generation (cache/alias paths), not per ad-hoc query.
    ``nprobe="stored"`` reads the PERSISTED per-generation calibration
    back (`calibrate_and_store_ivf` → ``{prefix}_calib``, rule floor
    for tenants onboarded since) — the production mode: measurement
    paid once per generation, every serve a broadcast-sized collect.
    Result = per-tenant
    `ivf_topk` run inside each collection (tested), columns
    (query_id, id, cosine, rank)."""
    return _ivf_serve(
        spark, prefix, queries, route, k, nprobe,
        spark.table(f"{prefix}_assigned").filter,
        partition_col, id_col, vec_col, query_id_col, centroid_id_col,
    )


def upsert_federated_ivf_index(
    spark,
    prefix: str,
    new_vectors: DataFrame,
    partition_col: str = "source",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    n_buckets: int = 8,
    deleted_ids: DataFrame | None = None,
    sink=None,
) -> str:
    """Incremental maintenance of the MULTI-TENANT IVF index —
    `upsert_ivf_index`'s contract under per-collection quantizers:
    assign ONLY the batch, each vector against ITS OWN collection's
    persisted (fixed) centroids, then delete-insert through the
    partition-overwrite seam on the (collection, centroid) composite —
    so one tenant's ingest rewrites only the cells its batch assigns
    into (plus the cells its deleted/changed ids occupy) and NEVER
    reads or writes another tenant's files: the ingest blast radius is
    a single searchdomain, matching the serve path's isolation.
    ``new_vectors`` must carry the collection column (a vector's
    collection is part of its identity here). ``deleted_ids`` wins
    over a conflicting batch row. Re-train a drifted tenant's
    centroids offline and rebuild THAT tenant only — the other
    collections' quantizers, partitions, and cache keys are untouched
    by construction."""
    from embeddingsearch_spark.sink import PartitionOverwriteSink

    sink = sink or PartitionOverwriteSink([partition_col, centroid_id_col])
    cents = spark.table(f"{prefix}_centroids")
    dk = new_vectors.select(id_col).distinct()
    if deleted_ids is not None:
        dd = deleted_ids.select(
            F.col(deleted_ids.columns[0]).alias(id_col)
        ).distinct()
        new_vectors = new_vectors.join(dd, id_col, "left_anti")
        dk = dk.unionByName(dd).distinct()
    assigned = assign_centroids_federated(
        new_vectors, cents, partition_col=partition_col,
        id_col=id_col, vec_col=vec_col,
        centroid_id_col=centroid_id_col,
    )
    sink.delete_insert(
        spark, f"{prefix}_assigned", assigned, [id_col],
        delete_keys=dk, bucket_cols=[id_col], n_buckets=n_buckets,
        partition_cols=[partition_col, centroid_id_col],
    )
    return f"{prefix}_assigned"


def retrain_federated_ivf_tenants(
    spark,
    prefix: str,
    tenant_corpus: DataFrame,
    new_centroids: DataFrame,
    partition_col: str = "source",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    n_buckets: int = 8,
) -> str:
    """Single-collection quantizer retrain for the multi-tenant IVF
    index — the ACTION arm of `embedding_drift_federated`, with the
    blast radius the federated layout exists for: swap ONLY the
    flagged collection(s)' centroid rows, then re-assign ONLY their
    vectors through the partitioned upsert — every other collection's
    quantizer, assignments, and partition files stay byte-identical
    (tested). ``new_centroids`` carries the flagged collections' new
    quantizer rows (its collection values define which tenants
    retrain); ``tenant_corpus`` is those collections' FULL current
    corpus (a retrain is per-tenant-total, cross-tenant-zero; rows
    that moved cells are cleaned up by the upsert's delete keys).
    The fixed-quantizer invariant the incremental family relies on is
    intentionally broken HERE AND ONLY HERE, for the tenants being
    retrained — which is the whole point of scoping it. If the index
    serves at ``nprobe="stored"``, follow the retrain with the
    same-scoped `calibrate_and_store_ivf(..., tenants=...)` — the new
    quantizer's measured widths swap into exactly the retrained
    tenants' calibration partitions."""
    from embeddingsearch_spark.storage import drop_table

    cents = spark.table(f"{prefix}_centroids").localCheckpoint(
        eager=True
    )
    tenants = [
        r[0]
        for r in new_centroids.select(partition_col)
        .distinct()
        .collect()
    ]
    merged = cents.filter(
        ~F.col(partition_col).isin(tenants)
    ).unionByName(new_centroids.select(*cents.columns)).localCheckpoint(
        eager=True
    )
    drop_table(spark, f"{prefix}_centroids")
    merged.write.saveAsTable(f"{prefix}_centroids")
    return upsert_federated_ivf_index(
        spark, prefix, tenant_corpus, partition_col=partition_col,
        id_col=id_col, vec_col=vec_col,
        centroid_id_col=centroid_id_col, n_buckets=n_buckets,
    )


def onboard_tenant_ivf(
    spark,
    prefix: str,
    tenant_corpus: DataFrame,
    tenant_centroids: DataFrame,
    partition_col: str = "source",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    n_buckets: int = 8,
) -> str:
    """First-class tenant ONBOARDING for the multi-tenant IVF index:
    append the new collection(s)' quantizer rows to the centroid
    table, assign their corpus under those quantizers (one pass), and
    insert the resulting partitions through the partition-overwrite
    seam with NO delete keys — the touched partitions are exactly the
    new collection's cells, which did not exist before, so existing
    collections' files, assignments, and quantizers are untouched by
    construction (byte-identity tested). Refuses collections that are
    already onboarded (that is a retrain —
    `retrain_federated_ivf_tenants` — or an ingest —
    `upsert_federated_ivf_index`)."""
    from embeddingsearch_spark.sink import PartitionOverwriteSink
    from embeddingsearch_spark.storage import drop_table

    cents = spark.table(f"{prefix}_centroids").localCheckpoint(
        eager=True
    )
    existing = {
        r[0]
        for r in cents.select(partition_col).distinct().collect()
    }
    new_tenants = [
        r[0]
        for r in tenant_centroids.select(partition_col)
        .distinct()
        .collect()
    ]
    overlap = sorted(t for t in new_tenants if t in existing)
    if overlap:
        raise ValueError(
            f"collections already onboarded: {overlap} — use "
            "retrain_federated_ivf_tenants (new quantizer) or "
            "upsert_federated_ivf_index (new vectors)"
        )
    merged = cents.unionByName(
        tenant_centroids.select(*cents.columns)
    ).localCheckpoint(eager=True)
    drop_table(spark, f"{prefix}_centroids")
    merged.write.saveAsTable(f"{prefix}_centroids")
    assigned = assign_centroids_federated(
        tenant_corpus, tenant_centroids, partition_col=partition_col,
        id_col=id_col, vec_col=vec_col,
        centroid_id_col=centroid_id_col,
    )
    PartitionOverwriteSink([partition_col, centroid_id_col]).delete_insert(
        spark, f"{prefix}_assigned", assigned, [id_col],
        delete_keys=None, bucket_cols=[id_col], n_buckets=n_buckets,
        partition_cols=[partition_col, centroid_id_col],
    )
    return f"{prefix}_assigned"


def offboard_tenant_ivf(
    spark,
    prefix: str,
    tenant: str,
    partition_col: str = "source",
) -> dict:
    """First-class tenant OFFBOARDING: drop the collection's
    partitions (enumerated with a partial partition spec, dropped one
    full spec at a time — bounded by the tenant's own cell count) and
    its centroid rows. Every other collection's files are never read
    or written; a subsequent routed serve for the gone tenant finds no
    quantizer and returns nothing, and `onboard_tenant_ivf` accepts
    the name again. Returns {"partitions_dropped",
    "centroids_dropped"}."""
    from embeddingsearch_spark.storage import (
        drop_table,
        drop_tenant_partitions,
    )

    n_parts = drop_tenant_partitions(
        spark, f"{prefix}_assigned", partition_col, tenant
    )
    cents = spark.table(f"{prefix}_centroids").localCheckpoint(
        eager=True
    )
    n_before = cents.count()
    kept = cents.filter(
        F.col(partition_col) != tenant
    ).localCheckpoint(eager=True)
    drop_table(spark, f"{prefix}_centroids")
    kept.write.saveAsTable(f"{prefix}_centroids")
    return {
        "partitions_dropped": n_parts,
        "centroids_dropped": int(n_before - kept.count()),
    }


def ivf_federated_serve_aliased(
    spark,
    alias: str,
    queries: DataFrame,
    route: DataFrame,
    k: int = 10,
    nprobe: int | dict | str = 2,
    partition_col: str = "source",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Per-tenant BLUE/GREEN serving: resolve each routed collection's
    CURRENT generation from the `set_tenant_index_alias` mapping, group
    tenants by the generation they point at (during a retrain window
    that is exactly two groups — the flipped tenant on the new
    generation, everyone else on the old), and run the federated serve
    once per generation over only ITS tenants — so one collection's
    retrain+flip never touches, re-reads, or re-plans any other
    collection's serving, and the flipped tenant's queries atomically
    switch tables. The per-generation loop is bounded by the number
    of LIVE generations (≤ tenants, ~2 in steady retrain), not by
    query or corpus size. Result = per-tenant
    `ivf_federated_from_index` against each tenant's own generation."""
    from embeddingsearch_spark.storage import federated_serve_aliased

    def serve(prefix, q, r):
        return ivf_federated_from_index(
            spark, prefix, q, r, k=k, nprobe=nprobe,
            partition_col=partition_col, id_col=id_col,
            vec_col=vec_col, query_id_col=query_id_col,
            centroid_id_col=centroid_id_col,
        )

    return federated_serve_aliased(
        spark, alias, queries, route, serve,
        partition_col=partition_col, query_id_col=query_id_col,
    )


def cluster_balanced_sample(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_per_cluster: int = 100,
    centroids: DataFrame | None = None,
    salt: str = "cluster_sample",
) -> DataFrame:
    """Cluster-balanced subset selection (the diversity sampler of the
    SemDeDup/D4 curation family): coarse-cluster the embedding space,
    then keep exactly ``n_per_cluster`` rows per cluster in a
    deterministic pseudo-random order (md5(salt, id)) — a topic-balanced
    subsample that counteracts head-topic domination in web corpora.
    Returns (id, centroid_id) for the kept rows.

    Pure composition: `assign_centroids` (zero-shuffle scan) +
    `splits.stratified_fixed_n` on the cluster id (one exchange; window
    parallelism = cluster count, the same scale knob as every operator
    in this family). Deterministic given ``centroids`` (None = the
    k-lowest-id init any engine reproduces)."""
    from embeddingsearch_spark.operators.splits import stratified_fixed_n

    if centroids is None:
        centroids = kmeans_centroids(
            emb, k=k, iters=0, id_col=id_col, vec_col=vec_col
        )
    assigned = assign_centroids(
        emb, centroids, id_col=id_col, vec_col=vec_col
    ).select(id_col, "centroid_id")
    return stratified_fixed_n(
        assigned, id_col, "centroid_id", n_per_cluster, salt=salt
    )


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an approximate ranking against the exact one:
    ``(query_id, n_hits, recall)`` per query — the standard ANN quality
    metric (|approx∩exact| / min(k, |exact|)). Both inputs are
    (query_id, vec_id[, rank]) top-k frames; rank columns beyond k are
    filtered if present. Rank rows only — corpus never touched."""
    def topk(df, name):
        out = df
        if "rank" in df.columns:
            out = out.filter(F.col("rank") <= k)
        out = out.select(query_id_col, id_col)
        # without a rank column there is no way to cap a frame holding
        # more than k rows per query, and recall would silently exceed
        # 1 — surface the contract violation instead (rank frames are
        # tiny; the check is one aggregation over them)
        if "rank" not in df.columns:
            over = (
                out.groupBy(query_id_col)
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > k)
                .limit(1)
                .collect()
            )
            if over:
                raise ValueError(
                    f"{name} frame has a query with {over[0]['_n']} "
                    f"rows but no 'rank' column to cap at k={k}"
                )
        return out

    # duplicate (query, vec) rows in either frame would inflate n_hits
    # past the denominator (recall > 1) — count distinct pairs only
    a = topk(approx, "approx").distinct()
    e = topk(exact, "exact").distinct()
    denom = e.groupBy(query_id_col).agg(
        F.count(F.lit(1)).alias("_n_exact")
    )
    hits = a.join(e, [query_id_col, id_col], "left_semi").groupBy(
        query_id_col
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    # full outer: a query present only in the approx frame surfaces
    # with recall NULL (no exact baseline) instead of vanishing
    qset = (
        a.select(query_id_col)
        .union(e.select(query_id_col))
        .distinct()
    )
    return (
        qset.join(denom, query_id_col, "left_outer")
        .join(hits, query_id_col, "left_outer")
        .select(
            query_id_col,
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            # least() skips NULLs, so guard explicitly: no exact
            # baseline → recall NULL, not 0/k
            F.when(
                F.col("_n_exact").isNotNull(),
                F.round(
                    F.coalesce("n_hits", F.lit(0)).cast("double")
                    / F.least(F.lit(k), F.col("_n_exact")),
                    ROUND_DIGITS,
                ),
            ).alias("recall"),
        )
    )
