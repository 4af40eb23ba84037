"""Streaming maintenance of the COMPRESSED (SQ8) federated IVF index:
batch-equivalence of the create-or-upsert drain, and the monitored
drain's clamp-rate signal flagging exactly the tenant whose live
values migrated outside its trained ranges."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from embeddingsearch_spark.operators import ann as ann_ops
from embeddingsearch_spark.operators import sq
from embeddingsearch_spark.storage import drop_table
from tests.test_streaming_annindex import assert_cells_bounded

SCHEMA = "vec_id long, embedding array<double>, source string"


def _multi_file_source(spark, path, rows, n_files):
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        if chunk:
            spark.createDataFrame(chunk, SCHEMA).coalesce(
                1
            ).write.mode("append").parquet(path)
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _rows(rng, n, dim, tenant_of, scale=1.0, base_id=0):
    return [
        (
            base_id + i,
            [float(x) * scale for x in rng.normal(size=dim)],
            tenant_of(i),
        )
        for i in range(n)
    ]


def test_streaming_sq8_converges_to_batch_build(spark, tmp_path):
    """Create-or-upsert over two micro-batches writes exactly the
    codes table a one-shot batch build writes (fixed centroids +
    fixed ranges ⇒ maintained ≡ rebuilt, the family invariant)."""
    rng = np.random.default_rng(41)
    rows = _rows(rng, 60, 8, lambda i: ("acme", "globex")[i % 2])
    corpus = spark.createDataFrame(rows, SCHEMA)
    cents = corpus.filter(F.col("vec_id") < 6).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    stats = sq.sq8_stats(corpus, partition_col="source")
    prefix = "es_test_ssq8"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix + t)
    from embeddingsearch_spark.streaming.annindex import (
        federated_ivf_sq8_index_available_now,
    )

    stream = _multi_file_source(
        spark, os.path.join(str(tmp_path), "feed"), rows, 3
    )
    history = federated_ivf_sq8_index_available_now(
        stream, prefix, centroids=cents, stats=stats, n_buckets=2
    )
    assert len(history) >= 2 and sum(history) == len(rows)
    assert_cells_bounded(spark, prefix + "_codes", 2)
    got = sorted(
        (r["vec_id"], r["source"], r["centroid_id"], tuple(r["codes"]))
        for r in spark.table(prefix + "_codes").collect()
    )
    # one-shot rebuild with the same frozen artifacts
    prefix2 = "es_test_ssq8_rebuild"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix2 + t)
    assigned = ann_ops.assign_centroids_federated(corpus, cents)
    sq.save_federated_ivf_sq8_index(
        spark, assigned, cents, stats, prefix2, n_buckets=2
    )
    want = sorted(
        (r["vec_id"], r["source"], r["centroid_id"], tuple(r["codes"]))
        for r in spark.table(prefix2 + "_codes").collect()
    )
    assert got == want


def test_monitored_sq8_clamp_flags_drifted_tenant_only(spark, tmp_path):
    """The clamp-rate signal is per-collection and run-scoped: pass 1
    streams the training-distribution corpus (no flags), pass 2 mixes
    same-distribution acme rows with 3x-scaled globex rows — globex's
    values clamp to the 0/255 bounds and IT alone flags, while the
    index keeps updating for both (drift/skew thresholds are disabled
    to isolate the clamp signal)."""
    from embeddingsearch_spark.streaming.annindex import (
        monitored_federated_ivf_sq8_ingest,
    )

    rng = np.random.default_rng(43)
    tenant_of = lambda i: ("acme", "globex")[i % 2]  # noqa: E731
    ref_rows = _rows(rng, 400, 8, tenant_of)
    reference = spark.createDataFrame(ref_rows, SCHEMA)
    cents = reference.filter(F.col("vec_id") < 6).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    stats = sq.sq8_stats(reference, partition_col="source")
    prefix = "es_test_msq8"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix + t)
    s1 = _multi_file_source(
        spark, os.path.join(str(tmp_path), "p1"), ref_rows, 2
    )
    h1, f1 = monitored_federated_ivf_sq8_ingest(
        s1, prefix, reference, centroids=cents, stats=stats,
        n_buckets=2, drift_threshold=1e9, skew_threshold=1e9,
        clamp_threshold=0.05,
    )
    assert f1 == {"acme": False, "globex": False}, (f1, h1[-1][4])
    # the training corpus's own clamp rate is tiny (per-dim extremes)
    assert all(v < 0.05 for v in h1[-1][4].values()), h1[-1][4]

    # i%2==0 -> acme unscaled; i%2==1 -> globex 3x-scaled
    mix = [
        (
            5000 + i,
            [
                float(x) * (1.0 if i % 2 == 0 else 3.0)
                for x in rng.normal(size=8)
            ],
            tenant_of(i),
        )
        for i in range(200)
    ]
    s2 = _multi_file_source(
        spark, os.path.join(str(tmp_path), "p2"), mix, 2
    )
    h2, f2 = monitored_federated_ivf_sq8_ingest(
        s2, prefix, reference,
        n_buckets=2, drift_threshold=1e9, skew_threshold=1e9,
        clamp_threshold=0.05,
    )
    assert f2 == {"acme": False, "globex": True}, (f2, h2[-1][4])
    assert h2[-1][4]["globex"] > 0.3, h2[-1][4]
    # the index kept updating for BOTH tenants
    assert spark.table(prefix + "_codes").count() == 600
    assert_cells_bounded(spark, prefix + "_codes", 2)
