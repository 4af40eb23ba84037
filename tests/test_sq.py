"""SQ8 scalar quantization: round-trip error bound, zero-span
dimensions, recall against exact brute force, and the federated
routing contract."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from embeddingsearch_spark.operators import ann as ann_ops
from embeddingsearch_spark.operators import sq


def _vecs(spark, dim=12, n=80, constant_dim=True):
    rng = np.random.default_rng(31)
    rows = []
    for i in range(n):
        v = [float(x) for x in rng.normal(size=dim)]
        if constant_dim:
            v[3] = 1.25  # zero-span dimension
        rows.append((i, v, ("acme", "globex")[i % 2]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, source string"
    ).cache()


def test_roundtrip_error_bounded_and_zero_span_exact(spark):
    """Every dequantized value is within span/510 of the original
    (half a quantization step), and a constant dimension reconstructs
    exactly."""
    emb = _vecs(spark)
    stats = sq.sq8_stats(emb, partition_col="source")
    codes = sq.sq8_encode(emb, stats, partition_col="source")
    deq = sq.sq8_dequantize(codes, stats, partition_col="source")
    orig = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    spans = {
        r["source"]: r["spans"] for r in stats.collect()
    }  # bounded: one row per collection
    for r in deq.collect():
        sp = spans[r["source"]]
        for d, (got, want) in enumerate(
            zip(r["embedding"], orig[r["vec_id"]])
        ):
            assert abs(got - want) <= sp[d] / 510 + 1e-12, (
                r["vec_id"], d, got, want, sp[d]
            )
            if d == 3:
                assert got == want == 1.25


def test_codes_in_range_and_extremes_hit_bounds(spark):
    emb = _vecs(spark, constant_dim=False)
    stats = sq.sq8_stats(emb, partition_col="source")
    codes = sq.sq8_encode(emb, stats, partition_col="source")
    flat = codes.select(F.explode("codes").alias("c"))
    lo, hi = flat.agg(F.min("c"), F.max("c")).collect()[0]
    assert lo == 0 and hi == 255  # min/max of each dim map to bounds


def test_sq8_topk_high_recall_vs_exact(spark):
    """8-bit quantization keeps cosine ranks almost everywhere: mean
    overlap@10 with the exact brute force stays high on random
    vectors."""
    emb = _vecs(spark, constant_dim=False)
    flat = emb.select("vec_id", "embedding")
    qs = flat.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    stats = sq.sq8_stats(flat)
    codes = sq.sq8_encode(flat, stats)
    got = sq.sq8_topk(codes, stats, qs, k=10)
    want = ann_ops.brute_force_topk(flat, qs, k=10)
    g = {}
    for r in got.collect():
        g.setdefault(r["query_id"], set()).add(r["vec_id"])
    overlaps = []
    for r in want.collect():
        overlaps.append(r["vec_id"] in g[r["query_id"]])
    assert sum(overlaps) / len(overlaps) >= 0.9, sum(overlaps)


def test_federated_topk_routes_and_isolates(spark):
    """A routed query scans only its own collection's codes — the
    cross-tenant perfect match never appears (the federated serve
    contract, on the compressed column)."""
    emb = _vecs(spark, constant_dim=False)
    clone = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 5000).alias("vec_id"),
        "embedding",
        F.lit("globex").alias("source"),
    )
    two = emb.unionByName(clone)
    stats = sq.sq8_stats(two, partition_col="source")
    codes = sq.sq8_encode(two, stats, partition_col="source")
    qs = two.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    route = spark.createDataFrame(
        [(0, "acme")], "query_id long, source string"
    )
    got = sq.sq8_topk(
        codes, stats, qs, route, k=10, partition_col="source"
    )
    ids = {r["vec_id"] for r in got.collect()}
    assert 5000 not in ids and 0 in ids
    assert all(i % 2 == 0 for i in ids)  # acme ids only


def test_ivf_sq8_upsert_matches_rebuild_and_isolates(spark):
    """The compressed upsert (batch assigned against frozen centroids,
    encoded against frozen ranges, delete-insert through the seam)
    converges to the same table a full rebuild writes, out-of-range
    batch values clamp to the code bounds, and the other tenant's
    partition files are untouched."""
    from embeddingsearch_spark.operators import ann as ann_ops2
    from embeddingsearch_spark.storage import drop_table

    emb = _vecs(spark, constant_dim=False)
    cents = emb.filter(F.col("vec_id") < 6).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    base = emb.filter(F.col("vec_id") < 60)
    assigned = ann_ops2.assign_centroids_federated(base, cents)
    stats = sq.sq8_stats(base, partition_col="source")
    prefix = "es_test_sq8_ups"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix + t)
    sq.save_federated_ivf_sq8_index(
        spark, assigned, cents, stats, prefix, n_buckets=2
    )

    def _listing(tenant):
        import os

        from embeddingsearch_spark.storage import _table_location

        loc = _table_location(spark, prefix + "_codes")
        out = []
        for root, _, files in os.walk(loc):
            if f"source={tenant}" in root:
                out += sorted(
                    (root, f, os.path.getmtime(os.path.join(root, f)))
                    for f in files
                )
        return out

    before_globex = _listing("globex")
    # acme-only batch, including an out-of-range vector (x10 scale)
    batch = emb.filter(
        (F.col("vec_id") >= 60) & (F.col("source") == "acme")
    ).withColumn(
        "embedding",
        F.transform("embedding", lambda x: x * 10.0),
    )
    sq.upsert_federated_ivf_sq8_index(
        spark, prefix, batch, n_buckets=2
    )
    # other tenant's files byte-identical (same names, same mtimes)
    assert _listing("globex") == before_globex
    # upserted == rebuild over the same total corpus
    total = base.unionByName(batch)
    got = {
        (r["vec_id"],): r["codes"]
        for r in spark.table(prefix + "_codes").collect()
    }
    from embeddingsearch_spark.operators.sq import (
        _encode_expr,
        _join_stats,
    )

    rebuild_assigned = ann_ops2.assign_centroids_federated(total, cents)
    rebuilt = _join_stats(
        rebuild_assigned.select(
            "vec_id", "source", "centroid_id", "embedding"
        ),
        stats,
        "source",
    ).select("vec_id", _encode_expr("embedding").alias("codes"))
    want = {(r["vec_id"],): r["codes"] for r in rebuilt.collect()}
    assert got == want
    # out-of-range values clamped to the bounds, not wrapped
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    for (vid,), codes in got.items():
        if vid in batch_ids:
            assert all(0 <= c <= 255 for c in codes)


def test_ivf_sq8_lifecycle_onboard_offboard(spark):
    """Family-generic lifecycle covers the compressed layout:
    onboarding a third tenant trains its own ranges, appends its
    quantizer + stats rows, and inserts only its partitions
    (untouched tenant's files byte-identical); offboarding removes
    its partitions, centroid rows, AND stats rows, and the routed
    serve finds nothing for it afterwards."""
    import os

    from embeddingsearch_spark.operators import ann as ann_ops2
    from embeddingsearch_spark.operators import lifecycle
    from embeddingsearch_spark.storage import _table_location, drop_table

    emb = _vecs(spark, constant_dim=False)
    third = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 9000).alias("vec_id"),
        "embedding",
        F.lit("initech").alias("source"),
    )
    cents2 = emb.filter(F.col("vec_id") < 6).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    prefix = "es_test_sq8_lc"
    for t in ("_codes", "_centroids", "_sqstats", "_calib"):
        drop_table(spark, prefix + t)
    assigned = ann_ops2.assign_centroids_federated(emb, cents2)
    stats = sq.sq8_stats(emb, partition_col="source")
    sq.save_federated_ivf_sq8_index(
        spark, assigned, cents2, stats, prefix, n_buckets=2
    )

    def _listing(tenant):
        loc = _table_location(spark, prefix + "_codes")
        out = []
        for root, _, files in os.walk(loc):
            if f"source={tenant}" in root:
                out += sorted(
                    (root, f, os.path.getmtime(os.path.join(root, f)))
                    for f in files
                )
        return out

    before_acme = _listing("acme")
    cents3 = third.filter(F.col("vec_id") < 9010).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    lifecycle.onboard_tenant(
        spark, prefix, "ivf_sq8", third, quantizer=cents3, n_buckets=2
    )
    assert _listing("acme") == before_acme
    assert (
        spark.table(prefix + "_sqstats")
        .filter(F.col("source") == "initech")
        .count()
        == 1
    )
    # onboarded tenant serves through the compressed routed path
    qs = third.limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    route = qs.select("query_id", F.lit("initech").alias("source"))
    got = sq.ivf_sq8_federated_from_index(
        spark, prefix, qs, route, k=3, nprobe=2
    )
    assert got.count() == 3
    # re-onboard refused while present
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already onboarded"):
        lifecycle.onboard_tenant(
            spark, prefix, "ivf_sq8", third, quantizer=cents3,
            n_buckets=2,
        )
    res = lifecycle.offboard_tenant(spark, prefix, "ivf_sq8", "initech")
    assert res["partitions_dropped"] >= 1
    assert res["artifact_rows_dropped"] >= 2  # centroids + stats row
    assert _listing("acme") == before_acme
    assert (
        spark.table(prefix + "_sqstats")
        .filter(F.col("source") == "initech")
        .count()
        == 0
    )
    assert (
        sq.ivf_sq8_federated_from_index(
            spark, prefix, qs, route, k=3, nprobe=2
        ).count()
        == 0
    )


def test_ivf_sq8_calibrated_nprobe_measures_dequantized(spark):
    """`nprobe="calibrated"` on the COMPRESSED serve measures against
    the dequantized codes (the fidelity the serve scores at) instead
    of crashing on the missing raw table, and serving at the string
    equals serving at the explicit measured map."""
    from embeddingsearch_spark.operators import ann as ann_ops2
    from embeddingsearch_spark.storage import drop_table

    emb = _vecs(spark, constant_dim=False)
    cents = emb.filter(F.col("vec_id") < 6).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    prefix = "es_test_sq8_cal"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix + t)
    assigned = ann_ops2.assign_centroids_federated(emb, cents)
    stats = sq.sq8_stats(emb, partition_col="source")
    sq.save_federated_ivf_sq8_index(
        spark, assigned, cents, stats, prefix, n_buckets=2
    )
    q = emb.filter(F.col("vec_id") % 7 == 0)
    queries = q.select(F.col("vec_id").alias("query_id"), "embedding")
    route = q.select(F.col("vec_id").alias("query_id"), "source")
    got = sq.ivf_sq8_federated_from_index(
        spark, prefix, queries, route, k=5, nprobe="calibrated"
    )
    from embeddingsearch_spark.operators.sq import (
        _dequant_expr,
        _join_stats,
    )

    deq_all = _join_stats(
        spark.table(prefix + "_codes"),
        spark.table(prefix + "_sqstats"),
        "source",
    ).select(
        "vec_id", "source", "centroid_id",
        _dequant_expr("codes").alias("embedding"),
    )
    widths = ann_ops2.ivf_calibrated_nprobe(
        spark, prefix, queries, route, k=5, assigned_df=deq_all
    )
    want = sq.ivf_sq8_federated_from_index(
        spark, prefix, queries, route, k=5, nprobe=widths
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_ivf_sq8_retrain_swaps_one_tenant_only(spark):
    """The retrain arm swaps the flagged tenant's centroid rows AND
    ranges and re-encodes its vectors; the other tenant's stats rows
    and code files are untouched, and the retrained tenant's new
    ranges cover its drifted (scaled) values — clamp rate drops back
    to the training profile."""
    from embeddingsearch_spark.operators import ann as ann_ops2
    from embeddingsearch_spark.storage import drop_table

    emb = _vecs(spark, constant_dim=False)
    cents = emb.filter(F.col("vec_id") < 6).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    prefix = "es_test_sq8_rt"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix + t)
    assigned = ann_ops2.assign_centroids_federated(emb, cents)
    stats = sq.sq8_stats(emb, partition_col="source")
    sq.save_federated_ivf_sq8_index(
        spark, assigned, cents, stats, prefix, n_buckets=2
    )
    before_acme_stats = (
        spark.table(prefix + "_sqstats")
        .filter(F.col("source") == "acme")
        .collect()
    )
    # globex drifted: 3x scale — retrain ITS quantizer + ranges
    gx = emb.filter(F.col("source") == "globex").withColumn(
        "embedding", F.transform("embedding", lambda x: x * 3.0)
    )
    gx_cents = gx.filter(F.col("vec_id") < 12).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    sq.retrain_federated_ivf_sq8_tenants(
        spark, prefix, gx, gx_cents, n_buckets=2
    )
    after_acme_stats = (
        spark.table(prefix + "_sqstats")
        .filter(F.col("source") == "acme")
        .collect()
    )
    assert sorted(map(str, before_acme_stats)) == sorted(
        map(str, after_acme_stats)
    )
    # new globex ranges cover the scaled values: re-encoding the
    # drifted corpus against the live stats clamps only at extremes
    from embeddingsearch_spark.operators.sq import (
        _encode_expr,
        _join_stats,
    )

    coded = _join_stats(
        gx.select("vec_id", "source", "embedding"),
        spark.table(prefix + "_sqstats"),
        "source",
    ).select(_encode_expr("embedding").alias("codes"))
    flat = coded.select(F.explode("codes").alias("c"))
    n_bound = flat.filter((F.col("c") == 0) | (F.col("c") == 255)).count()
    # exactly the per-dim extremes hit the bounds (2 per dimension) —
    # the retrained ranges cover the drifted values precisely
    assert n_bound == 2 * 12, n_bound
    # acme still serves from its untouched generation
    q = emb.filter(F.col("source") == "acme").limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    r = q.select("query_id", F.lit("acme").alias("source"))
    assert (
        sq.ivf_sq8_federated_from_index(
            spark, prefix, q, r, k=3, nprobe=2
        ).count()
        == 3
    )


def test_ivf_sq8_cached_and_aliased_serves(spark):
    """The cached and blue/green aliased serves on the compressed
    layout both equal the direct serve — and the aliased serve routes
    a flipped tenant to its NEW generation (new ranges) while the
    other stays on the old one."""
    from embeddingsearch_spark.operators import ann as ann_ops2
    from embeddingsearch_spark.operators import query_cache as qc
    from embeddingsearch_spark.storage import (
        drop_table,
        set_tenant_index_alias,
    )

    emb = _vecs(spark, constant_dim=False)
    cents = emb.filter(F.col("vec_id") < 6).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    prefix = "es_test_sq8_srv1"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix + t)
    assigned = ann_ops2.assign_centroids_federated(emb, cents)
    stats = sq.sq8_stats(emb, partition_col="source")
    sq.save_federated_ivf_sq8_index(
        spark, assigned, cents, stats, prefix, n_buckets=2
    )
    q = emb.filter(F.col("vec_id") % 7 == 0)
    queries = q.select(F.col("vec_id").alias("query_id"), "embedding")
    route = q.select(F.col("vec_id").alias("query_id"), "source")
    want = sorted(
        map(
            tuple,
            sq.ivf_sq8_federated_from_index(
                spark, prefix, queries, route, k=5, nprobe=2
            ).collect(),
        )
    )
    drop_table(spark, "es_test_sq8_srv_cache")
    got_c = qc.serve_ivf_sq8_federated_cached(
        spark, "es_test_sq8_srv_cache", prefix, queries, route,
        {"acme": "v1", "globex": "v1"}, k=5, nprobe=2,
    )
    assert sorted(map(tuple, got_c.collect())) == want
    # warm read returns identically
    got_w = qc.serve_ivf_sq8_federated_cached(
        spark, "es_test_sq8_srv_cache", prefix, queries, route,
        {"acme": "v1", "globex": "v1"}, k=5, nprobe=2,
    )
    assert sorted(map(tuple, got_w.collect())) == want
    # blue/green: globex retrains into gen2 (3x-scaled corpus)
    prefix2 = "es_test_sq8_srv2"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix2 + t)
    gx = emb.filter(F.col("source") == "globex").withColumn(
        "embedding", F.transform("embedding", lambda x: x * 3.0)
    )
    gx_cents = gx.filter(F.col("vec_id") < 12).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    sq.save_federated_ivf_sq8_index(
        spark,
        ann_ops2.assign_centroids_federated(gx, gx_cents),
        gx_cents,
        sq.sq8_stats(gx, partition_col="source"),
        prefix2,
        n_buckets=2,
    )
    drop_table(spark, "es_test_sq8_al_talias")
    set_tenant_index_alias(spark, "es_test_sq8_al", "acme", prefix)
    set_tenant_index_alias(spark, "es_test_sq8_al", "globex", prefix2)
    gx_queries = gx.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    all_q = queries.filter(
        F.col("query_id") % 2 == 0
    ).unionByName(gx_queries.filter(F.col("query_id") % 2 == 1))
    got_al = sq.ivf_sq8_federated_serve_aliased(
        spark, "es_test_sq8_al", all_q, route, k=5, nprobe=2
    )
    want_acme = sq.ivf_sq8_federated_from_index(
        spark, prefix,
        all_q.join(
            route.filter(F.col("source") == "acme").select("query_id"),
            "query_id",
        ),
        route.filter(F.col("source") == "acme"),
        k=5, nprobe=2,
    )
    want_gx = sq.ivf_sq8_federated_from_index(
        spark, prefix2,
        all_q.join(
            route.filter(F.col("source") == "globex").select(
                "query_id"
            ),
            "query_id",
        ),
        route.filter(F.col("source") == "globex"),
        k=5, nprobe=2,
    )
    assert sorted(map(tuple, got_al.collect())) == sorted(
        map(tuple, want_acme.unionByName(want_gx).collect())
    )


def test_scan_cost_prices_compressed_layout(spark):
    """`ivf_scan_cost(assigned_table=...)` prices the SQ8 codes table:
    row counts equal the raw layout's (same assignment), so the report
    carries over — the byte ratio is the separately-measured
    compression factor."""
    from embeddingsearch_spark.operators import ann as ann_ops2
    from embeddingsearch_spark.operators import calibration as cal_ops
    from embeddingsearch_spark.storage import drop_table

    emb = _vecs(spark, constant_dim=False)
    cents = emb.filter(F.col("vec_id") < 6).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    prefix = "es_test_sq8_cost"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix + t)
    assigned = ann_ops2.assign_centroids_federated(emb, cents)
    stats = sq.sq8_stats(emb, partition_col="source")
    sq.save_federated_ivf_sq8_index(
        spark, assigned, cents, stats, prefix, n_buckets=2
    )
    q = emb.filter(F.col("vec_id") % 7 == 0)
    queries = q.select(F.col("vec_id").alias("query_id"), "embedding")
    route = q.select(F.col("vec_id").alias("query_id"), "source")
    rows = cal_ops.ivf_scan_cost(
        spark, prefix, queries, route, k=5, nprobe=2,
        assigned_table=f"{prefix}_codes",
    ).collect()
    got = {r["source"]: r for r in rows}
    assert set(got) == {"acme", "globex"}
    for t, r in got.items():
        assert r["corpus_rows"] == 40  # each tenant's full corpus
        assert r["nprobe"] == 2 and r["rows_scanned"] > 0
        assert 0 < r["scan_frac"] <= 1.0
    # "calibrated" prices the widths the compressed serve measures: on
    # the decoded codes, with no raw {prefix}_assigned table to read
    codes = spark.table(f"{prefix}_codes")
    deq = sq.sq8_dequantize(
        codes, spark.table(f"{prefix}_sqstats"), partition_col="source"
    ).join(
        codes.select("vec_id", "source", "centroid_id"),
        ["vec_id", "source"],
    )
    want = ann_ops2.ivf_calibrated_nprobe(
        spark, prefix, queries, route, k=5, assigned_df=deq
    )
    rows = cal_ops.ivf_scan_cost(
        spark, prefix, queries, route, k=5, nprobe="calibrated",
        assigned_table=f"{prefix}_codes",
    ).collect()
    assert {r["source"]: r["nprobe"] for r in rows} == want
    assert all(r["rows_scanned"] > 0 for r in rows)


def test_tinyint_layout_serves_identically_and_upsert_preserves(spark):
    """``codes_dtype="tinyint"`` stores codes as −128-shifted signed
    bytes (a strict 1-byte parquet logical type); every read path
    detects the layout from the schema, so serve results are
    BIT-IDENTICAL to the array<int> layout, an upsert into a tinyint
    generation writes tinyint (no mixed-layout partitions), and the
    physical codes really are bytes."""
    from pyspark.sql import types as T

    from embeddingsearch_spark.storage import drop_table

    emb = _vecs(spark)
    cents = emb.filter(F.col("vec_id") < 6).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    stats = sq.sq8_stats(
        emb.filter(F.col("vec_id") < 60), partition_col="source"
    )
    assigned = ann_ops.assign_centroids_federated(
        emb.filter(F.col("vec_id") < 60), cents
    )
    for pre in ("es_test_sq8int", "es_test_sq8tiny"):
        for t in ("_codes", "_centroids", "_sqstats"):
            drop_table(spark, pre + t)
    sq.save_federated_ivf_sq8_index(
        spark, assigned, cents, stats, "es_test_sq8int",
        n_buckets=2, codes_dtype="int",
    )
    sq.save_federated_ivf_sq8_index(
        spark, assigned, cents, stats, "es_test_sq8tiny",
        n_buckets=2, codes_dtype="tinyint",
    )
    tiny = spark.table("es_test_sq8tiny_codes")
    assert isinstance(
        tiny.schema["codes"].dataType.elementType, T.ByteType
    )
    assert sq._codes_shifted(tiny) and not sq._codes_shifted(
        spark.table("es_test_sq8int_codes")
    )
    # logical equality of the stored codes across layouts
    as_int = {
        r["vec_id"]: [c + 128 for c in r["codes"]]
        for r in tiny.collect()
    }
    for r in spark.table("es_test_sq8int_codes").collect():
        assert as_int[r["vec_id"]] == list(r["codes"]), r["vec_id"]
    qdf = emb.filter(F.col("vec_id") % 7 == 0)
    queries = qdf.select(F.col("vec_id").alias("query_id"), "embedding")
    route = qdf.select(F.col("vec_id").alias("query_id"), "source")
    a = sq.ivf_sq8_federated_from_index(
        spark, "es_test_sq8int", queries, route, k=5, nprobe=2
    )
    b = sq.ivf_sq8_federated_from_index(
        spark, "es_test_sq8tiny", queries, route, k=5, nprobe=2
    )
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.collect())
    )
    # upsert into the tinyint generation stays tinyint and serves the
    # new rows
    sq.upsert_federated_ivf_sq8_index(
        spark, "es_test_sq8tiny", emb.filter(F.col("vec_id") >= 60),
        n_buckets=2,
    )
    sq.upsert_federated_ivf_sq8_index(
        spark, "es_test_sq8int", emb.filter(F.col("vec_id") >= 60),
        n_buckets=2,
    )
    tiny2 = spark.table("es_test_sq8tiny_codes")
    assert isinstance(
        tiny2.schema["codes"].dataType.elementType, T.ByteType
    )
    a2 = sq.ivf_sq8_federated_from_index(
        spark, "es_test_sq8int", queries, route, k=5, nprobe=2
    )
    b2 = sq.ivf_sq8_federated_from_index(
        spark, "es_test_sq8tiny", queries, route, k=5, nprobe=2
    )
    assert sorted(map(tuple, a2.collect())) == sorted(
        map(tuple, b2.collect())
    )
    # dequantize reconstructs identically across layouts
    d1 = sq.sq8_dequantize(
        spark.table("es_test_sq8int_codes").select(
            "vec_id", "source", "codes"
        ),
        spark.table("es_test_sq8int_sqstats"),
        partition_col="source",
    )
    d2 = sq.sq8_dequantize(
        tiny2.select("vec_id", "source", "codes"),
        spark.table("es_test_sq8tiny_sqstats"),
        partition_col="source",
    )
    got1 = {r["vec_id"]: r["embedding"] for r in d1.collect()}
    for r in d2.collect():
        assert got1[r["vec_id"]] == r["embedding"], r["vec_id"]


def test_sq8_upsert_refuses_half_onboarded_tenant(spark):
    """A tenant with centroids but NO sqstats row must raise at
    upsert, not silently drop its batch while deleting its ids
    (round-9 ADVICE #2)."""
    import pytest

    from embeddingsearch_spark.storage import drop_table

    emb = _vecs(spark)
    cents = emb.filter(F.col("vec_id") < 6).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    # stats trained for acme ONLY — globex is half-onboarded
    stats = sq.sq8_stats(
        emb.filter(F.col("source") == "acme"), partition_col="source"
    )
    assigned = ann_ops.assign_centroids_federated(
        emb.filter(
            (F.col("source") == "acme") & (F.col("vec_id") < 60)
        ),
        cents,
    )
    pre = "es_test_sq8half"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, pre + t)
    sq.save_federated_ivf_sq8_index(
        spark, assigned, cents, stats, pre, n_buckets=2
    )
    with pytest.raises(ValueError, match="no es_test_sq8half_sqstats"):
        sq.upsert_federated_ivf_sq8_index(
            spark, pre, emb.filter(F.col("vec_id") >= 60),
            n_buckets=2,
        )
    # a batch of fully-onboarded tenants still lands
    sq.upsert_federated_ivf_sq8_index(
        spark, pre,
        emb.filter(
            (F.col("source") == "acme") & (F.col("vec_id") >= 60)
        ),
        n_buckets=2,
    )


# ------------------------------------------------------------- SQ4


def test_sq4_pack_shape_and_roundtrip_bound(spark):
    """Packed length = ceil(dim/2), byte values in [0, 255], and the
    unpack+dequantize round-trip error stays within span/30 per dim
    (zero-span dims exact) — including an ODD dim count, where the
    padded nibble must not leak a phantom dimension."""
    for dim in (12, 13):
        emb = _vecs(spark, dim=dim)
        stats = sq.sq8_stats(emb, partition_col="source")
        codes = sq.sq4_encode(emb, stats, partition_col="source")
        r = codes.agg(
            F.max(F.size("codes")), F.min(F.size("codes")),
            F.max(F.array_max("codes")), F.min(F.array_min("codes")),
        ).collect()[0]
        assert r[0] == r[1] == (dim + 1) // 2
        assert 0 <= r[3] and r[2] <= 255
        deq = sq.sq4_dequantize(codes, stats, partition_col="source")
        assert deq.select(F.size("embedding")).distinct().collect()[0][
            0
        ] == dim
        viol = (
            emb.select(
                "vec_id", "source",
                F.col("embedding").cast("array<double>").alias("x"),
            )
            .join(deq.withColumnRenamed("embedding", "xh"),
                  ["vec_id", "source"])
            .join(F.broadcast(stats), "source")
            .select(
                F.aggregate(
                    F.zip_with(
                        F.zip_with("x", "xh", lambda a, b: F.abs(a - b)),
                        "spans",
                        lambda e, s: F.when(s == 0, e).otherwise(
                            e - s / 30 - 1e-9
                        ),
                    ),
                    F.lit(0.0),
                    lambda acc, v: F.greatest(acc, v),
                ).alias("v")
            )
            .agg(F.max("v"))
            .collect()[0][0]
        )
        assert viol <= 0.0


def test_sq4_topk_routes_and_ranks(spark):
    """Routed SQ4 serve: every query's results stay inside its own
    collection, ranks are 1..k dense, and recall against exact brute
    force is materially above chance (the 4-bit tier's documented
    quality level, not SQ8's)."""
    emb = _vecs(spark, dim=16, n=120)
    stats = sq.sq8_stats(emb, partition_col="source")
    codes = sq.sq4_encode(emb, stats, partition_col="source")
    qdf = emb.filter(F.col("vec_id") % 7 == 0)
    qs = qdf.select(F.col("vec_id").alias("query_id"), "embedding")
    rt = qdf.select(F.col("vec_id").alias("query_id"), "source")
    out = sq.sq4_topk(
        codes, stats, qs, rt, k=5, partition_col="source"
    ).cache()
    # tenant isolation: result ids share the query's parity/source
    leak = (
        out.join(rt, "query_id")
        .filter(
            (F.col("source") == "acme") & (F.col("vec_id") % 2 != 0)
            | (F.col("source") == "globex") & (F.col("vec_id") % 2 == 0)
        )
        .count()
    )
    assert leak == 0
    per_q = out.groupBy("query_id").agg(
        F.count("*").alias("n"), F.max("rank").alias("mx")
    )
    assert per_q.filter((F.col("n") != 5) | (F.col("mx") != 5)).count() == 0
    exact = None
    for t in ("acme", "globex"):
        tq = qs.join(
            rt.filter(F.col("source") == t).select("query_id"),
            "query_id",
        )
        p = ann_ops.brute_force_topk(
            emb.filter(F.col("source") == t), tq, k=5
        )
        exact = p if exact is None else exact.unionByName(p)
    rec = (
        ann_ops.ann_recall(out, exact, k=5)
        .agg(F.avg("recall"))
        .collect()[0][0]
    )
    assert rec > 0.5, rec


def test_sq4_shortlist_rerank_exact_when_factor_covers_corpus(spark):
    """The composed serve's degenerate contract: with
    shortlist_factor·k >= per-tenant corpus the rerank sees every
    candidate and must EQUAL exact per-tenant brute force — and at a
    small factor it must still beat the bare SQ4 scan's recall (the
    production claim behind the archive tier's >=0.9 bar)."""
    emb = _vecs(spark, dim=16, n=120)
    stats = sq.sq8_stats(emb, partition_col="source")
    codes = sq.sq4_encode(emb, stats, partition_col="source")
    qdf = emb.filter(F.col("vec_id") % 7 == 0)
    qs = qdf.select(F.col("vec_id").alias("query_id"), "embedding")
    rt = qdf.select(F.col("vec_id").alias("query_id"), "source")
    exact = None
    for t in ("acme", "globex"):
        tq = qs.join(
            rt.filter(F.col("source") == t).select("query_id"),
            "query_id",
        )
        p = ann_ops.brute_force_topk(
            emb.filter(F.col("source") == t), tq, k=5
        )
        exact = p if exact is None else exact.unionByName(p)
    exact = exact.cache()
    # factor 20 * k 5 = 100 >= 60 rows/tenant -> degenerate exact
    full = sq.sq4_shortlist_rerank(
        codes, stats, emb, qs, rt, k=5, shortlist_factor=20,
        partition_col="source",
    )
    diff = full.select("query_id", "vec_id", "cosine", "rank").exceptAll(
        exact.select("query_id", "vec_id", "cosine", "rank")
    )
    assert diff.count() == 0, diff.take(5)
    # small factor: recall must improve on the bare SQ4 scan
    bare = sq.sq4_topk(codes, stats, qs, rt, k=5, partition_col="source")
    rr = sq.sq4_shortlist_rerank(
        codes, stats, emb, qs, rt, k=5, shortlist_factor=4,
        partition_col="source",
    )
    rec = {
        name: ann_ops.ann_recall(df, exact, k=5)
        .agg(F.avg("recall"))
        .collect()[0][0]
        for name, df in (("bare", bare), ("rerank", rr))
    }
    assert rec["rerank"] >= rec["bare"], rec
    assert rec["rerank"] > 0.9, rec


def test_ivf_sq4_index_family_upsert_serve_and_layout_guard(spark):
    """The SQ4 index family (save/serve/upsert layout-detected): the
    packed generation serves the same ranks as brute SQ4 over the
    probed candidates, an acme-only upsert re-encodes PACKED and
    leaves globex's files byte-identical, upsert converges to the
    rebuild's codes, and the SQ4 server refuses an SQ8 generation
    loudly."""
    import pytest

    from embeddingsearch_spark.operators import ann as ann_ops2
    from embeddingsearch_spark.storage import drop_table

    emb = _vecs(spark, dim=16, n=80, constant_dim=False)
    cents = emb.filter(F.col("vec_id") < 6).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    base = emb.filter(F.col("vec_id") < 60)
    assigned = ann_ops2.assign_centroids_federated(base, cents)
    stats = sq.sq8_stats(base, partition_col="source")
    prefix = "es_test_sq4_idx"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix + t)
    sq.save_federated_ivf_sq4_index(
        spark, assigned, cents, stats, prefix, n_buckets=2
    )
    # packed layout: code rows are ceil(dim/2) long
    row = spark.table(prefix + "_codes").select("codes").head()
    assert len(row[0]) == 8  # dim 16 -> 8 bytes

    def _listing(tenant):
        import os

        from embeddingsearch_spark.storage import _table_location

        loc = _table_location(spark, prefix + "_codes")
        out = []
        for root, _, files in os.walk(loc):
            if f"source={tenant}" in root:
                out += sorted(
                    (root, f, os.path.getmtime(os.path.join(root, f)))
                    for f in files
                )
        return out

    before_globex = _listing("globex")
    batch = emb.filter(
        (F.col("vec_id") >= 60) & (F.col("source") == "acme")
    )
    sq.upsert_federated_ivf_sq4_index(spark, prefix, batch, n_buckets=2)
    assert _listing("globex") == before_globex
    # upserted == packed rebuild over the same total corpus
    total = base.unionByName(batch)
    got = {
        r["vec_id"]: r["codes"]
        for r in spark.table(prefix + "_codes").collect()
    }
    rebuilt = sq.sq4_encode(
        ann_ops2.assign_centroids_federated(total, cents),
        stats,
        partition_col="source",
    )
    want = {r["vec_id"]: r["codes"] for r in rebuilt.collect()}
    assert got == want
    # routed serve over the packed index matches brute SQ4 ranks over
    # the SAME probed candidate set at full probe width (nprobe = all
    # cells -> candidates = whole tenant corpus)
    qdf = emb.filter((F.col("vec_id") % 7 == 0) & (F.col("vec_id") < 60))
    qs = qdf.select(F.col("vec_id").alias("query_id"), "embedding")
    rt = qdf.select(F.col("vec_id").alias("query_id"), "source")
    served = sq.ivf_sq4_federated_from_index(
        spark, prefix, qs, rt, k=5, nprobe=3
    )
    codes4 = sq.sq4_encode(total, stats, partition_col="source")
    brute = sq.sq4_topk(codes4, stats, qs, rt, k=5, partition_col="source")
    canon_s = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in served.collect()
    }
    canon_b = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in brute.collect()
    }
    assert canon_s == canon_b  # 3 cells/tenant = full probe
    # wrong-layout guard: SQ4 server refuses an SQ8 generation
    prefix8 = "es_test_sq4_guard"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix8 + t)
    sq.save_federated_ivf_sq8_index(
        spark, assigned, cents, stats, prefix8, n_buckets=2
    )
    with pytest.raises(ValueError, match="not a packed SQ4 layout"):
        sq.ivf_sq4_federated_from_index(spark, prefix8, qs, rt, k=5)
    for p in (prefix, prefix8):
        for t in ("_codes", "_centroids", "_sqstats"):
            drop_table(spark, p + t)


def test_ivf_sq4_retrain_swaps_one_tenant_and_reranges(spark):
    """The SQ4 retrain arm: globex's centroids AND ranges re-train
    from its drifted corpus and its vectors re-encode packed, while
    acme's stats row and codes stay identical."""
    from embeddingsearch_spark.operators import ann as ann_ops2
    from embeddingsearch_spark.storage import drop_table

    emb = _vecs(spark, dim=16, n=80, constant_dim=False)
    cents = emb.filter(F.col("vec_id") < 6).select(
        "source", F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = ann_ops2.assign_centroids_federated(emb, cents)
    stats = sq.sq8_stats(emb, partition_col="source")
    prefix = "es_test_sq4_rt"
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, t and prefix + t)
    sq.save_federated_ivf_sq4_index(
        spark, assigned, cents, stats, prefix, n_buckets=2
    )
    acme_before = {
        r["vec_id"]: r["codes"]
        for r in spark.table(prefix + "_codes")
        .filter(F.col("source") == "acme")
        .collect()
    }
    # globex drifts: values shift far outside the trained ranges
    drifted = emb.withColumn(
        "embedding",
        F.when(
            F.col("source") == "globex",
            F.transform("embedding", lambda x: x * 5.0 + 3.0),
        ).otherwise(F.col("embedding")),
    )
    new_cents = drifted.filter(
        (F.col("source") == "globex") & (F.col("vec_id") < 6)
    ).select("source", F.col("vec_id").alias("centroid_id"), "embedding")
    sq.retrain_federated_ivf_sq4_tenants(
        spark, prefix,
        drifted.filter(F.col("source") == "globex"),
        new_cents, n_buckets=2,
    )
    acme_after = {
        r["vec_id"]: r["codes"]
        for r in spark.table(prefix + "_codes")
        .filter(F.col("source") == "acme")
        .collect()
    }
    assert acme_after == acme_before
    # globex's new ranges cover the drifted values: codes still packed
    # (len 8) and its stats row changed
    g_stats = {
        r["source"]: r["mins"]
        for r in spark.table(prefix + "_sqstats").collect()
    }
    old_stats = {r["source"]: r["mins"] for r in stats.collect()}
    assert g_stats["acme"] == old_stats["acme"]
    assert g_stats["globex"] != old_stats["globex"]
    g_row = (
        spark.table(prefix + "_codes")
        .filter(F.col("source") == "globex")
        .select("codes")
        .head()
    )
    assert len(g_row[0]) == 8
    for t in ("_codes", "_centroids", "_sqstats"):
        drop_table(spark, prefix + t)
