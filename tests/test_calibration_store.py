"""Persisted calibration tables: store/load round-trip, tenant-scoped
refresh blast radius, `"stored"` serve equality with the explicit width
map, and the rule fallback for tenants onboarded after calibration."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window, functions as F

from embeddingsearch_spark.operators import ann as ann_ops
from embeddingsearch_spark.operators import calibration as cal
from embeddingsearch_spark.storage import drop_table


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(23)
    rows = [
        (
            i,
            [float(x) for x in rng.normal(size=16)],
            ("acme", "globex")[i % 2],
        )
        for i in range(160)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, source string"
    ).cache()


def _queries_route(vecs):
    q = vecs.filter(F.col("vec_id") % 7 == 0)
    return (
        q.select(F.col("vec_id").alias("query_id"), "embedding"),
        q.select(F.col("vec_id").alias("query_id"), "source"),
    )


@pytest.fixture(scope="module")
def ivf_prefix(spark, vecs):
    prefix = "es_test_calst_ivf"
    for t in ("_assigned", "_centroids", "_calib"):
        drop_table(spark, prefix + t)
    w = Window.partitionBy("source").orderBy("vec_id")
    cents = (
        vecs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 6)
        .select(
            "source", F.col("vec_id").alias("centroid_id"), "embedding"
        )
        .localCheckpoint(eager=True)
    )
    assigned = ann_ops.assign_centroids_federated(vecs, cents)
    ann_ops.save_federated_ivf_index(
        assigned, cents, prefix, n_buckets=2
    )
    return prefix


def test_ivf_store_load_and_scoped_refresh(spark, vecs, ivf_prefix):
    """A full calibration stores one nprobe row per tenant; a
    tenant-scoped refresh at a different target replaces ONLY that
    tenant's row — the other tenant's value AND recorded target are
    untouched, and no duplicate rows accumulate."""
    drop_table(spark, ivf_prefix + "_calib")
    queries, route = _queries_route(vecs)
    m1 = cal.calibrate_and_store_ivf(
        spark, ivf_prefix, queries, route, recall_target=0.9
    )
    assert set(m1) == {"acme", "globex"}
    loaded = cal.load_calibration(spark, ivf_prefix)
    assert {t: k["nprobe"] for t, k in loaded.items()} == m1

    m2 = cal.calibrate_and_store_ivf(
        spark, ivf_prefix, queries, route,
        tenants=["globex"], recall_target=1.0,
    )
    assert set(m2) == {"globex"}
    tbl = spark.table(ivf_prefix + "_calib")
    rows = {
        (r["source"], r["knob"]): (r["value"], r["recall_target"])
        for r in tbl.collect()
    }
    assert len(rows) == tbl.count()  # replacement, not accumulation
    assert rows[("acme", "nprobe")] == (m1["acme"], 0.9)
    assert rows[("globex", "nprobe")] == (m2["globex"], 1.0)
    # target 1.0 needs at least the 0.9 width
    assert m2["globex"] >= m1["globex"]


def test_ivf_stored_serve_equals_explicit_map(spark, vecs, ivf_prefix):
    drop_table(spark, ivf_prefix + "_calib")
    queries, route = _queries_route(vecs)
    cal.calibrate_and_store_ivf(
        spark, ivf_prefix, queries, route, recall_target=0.9
    )
    widths = cal.ivf_stored_nprobe(spark, ivf_prefix)
    got = ann_ops.ivf_federated_from_index(
        spark, ivf_prefix, queries, route, k=5, nprobe="stored"
    )
    want = ann_ops.ivf_federated_from_index(
        spark, ivf_prefix, queries, route, k=5, nprobe=widths
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_stored_without_table_raises(spark, vecs, ivf_prefix):
    drop_table(spark, ivf_prefix + "_calib")
    queries, route = _queries_route(vecs)
    with pytest.raises(ValueError, match="calibrate_and_store"):
        ann_ops.ivf_federated_from_index(
            spark, ivf_prefix, queries, route, k=5, nprobe="stored"
        )


def test_ivf_stored_rule_fallback_for_uncalibrated_tenant(
    spark, vecs, ivf_prefix
):
    """A tenant with no stored row (onboarded after the calibration)
    serves at the `ivf_auto_nprobe` rule floor, not at an error."""
    drop_table(spark, ivf_prefix + "_calib")
    queries, route = _queries_route(vecs)
    stored = cal.calibrate_and_store_ivf(
        spark, ivf_prefix, queries, route, tenants=["acme"]
    )
    widths = cal.ivf_stored_nprobe(spark, ivf_prefix)
    rule = ann_ops.ivf_auto_nprobe(spark, ivf_prefix)
    assert widths["acme"] == stored["acme"]
    assert widths["globex"] == rule["globex"]


def test_ivf_cached_stored_matches_uncached(spark, vecs, ivf_prefix):
    from embeddingsearch_spark.operators import query_cache as qc

    drop_table(spark, ivf_prefix + "_calib")
    drop_table(spark, "es_test_calst_cache")
    queries, route = _queries_route(vecs)
    cal.calibrate_and_store_ivf(spark, ivf_prefix, queries, route)
    versions = {"acme": "v1", "globex": "v1"}
    got = qc.serve_ivf_federated_cached(
        spark, "es_test_calst_cache", ivf_prefix, queries, route,
        versions, k=5, nprobe="stored",
    )
    want = ann_ops.ivf_federated_from_index(
        spark, ivf_prefix, queries, route, k=5, nprobe="stored"
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_pq_store_load_and_stored_factor_merge(spark, vecs):
    from embeddingsearch_spark.operators import pq

    prefix = "es_test_calst_pq"
    for t in ("_codes", "_codebooks", "_calib"):
        drop_table(spark, prefix + t)
    cbs = pq.initial_codebooks_federated(vecs, m_sub=4, k_codes=8)
    coded = pq.encode_pq_federated(vecs, cbs)
    pq.save_federated_pq_index(coded, cbs, prefix, n_buckets=2)
    queries, route = _queries_route(vecs)
    stored = cal.calibrate_and_store_pq(
        spark, prefix, vecs, queries, route, recall_target=0.9, k=5
    )
    assert set(stored) == {"acme", "globex"}
    merged = cal.pq_stored_factor(spark, prefix, queries)
    assert merged == stored
    # scoped refresh replaces one tenant's factor row only
    cal.calibrate_and_store_pq(
        spark, prefix, vecs, queries, route,
        tenants=["acme"], recall_target=1.0, k=5,
    )
    rows = {
        (r["source"], r["knob"]): r["recall_target"]
        for r in spark.table(prefix + "_calib").collect()
    }
    assert rows[("acme", "refine_factor")] == 1.0
    assert rows[("globex", "refine_factor")] == 0.9


def test_graph_store_load_and_stored_config_overlay(spark, vecs):
    from embeddingsearch_spark.operators import graphann

    prefix = "es_test_calst_graph"
    for t in ("_pairs", "_assigned", "_calib"):
        drop_table(spark, t if t.startswith("es_") else prefix + t)
        drop_table(spark, prefix + t)
    w = Window.partitionBy("source").orderBy("vec_id")
    cents = (
        vecs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select(
            "source", F.col("vec_id").alias("centroid_id"), "embedding"
        )
        .localCheckpoint(eager=True)
    )
    assigned = graphann.assign_blocks_federated(vecs, cents, n_assign=2)
    pairs = graphann.block_pair_sims_federated(vecs, assigned)
    graphann.save_federated_graph_index(
        pairs, assigned, prefix, n_buckets=2
    )
    queries, route = _queries_route(vecs)
    # a reachable target so the ladder can land below the rule beam
    stored = cal.calibrate_and_store_graph(
        spark, prefix, vecs, queries, route, recall_target=0.5, k=5
    )
    assert set(stored) == {"acme", "globex"}
    merged = cal.graph_stored_config(spark, prefix, k=5)
    # merged = rule dict (incl. build knobs) with the SERVE knobs
    # overlaid from the store
    for t, cfg in stored.items():
        for knob in ("beam", "hops", "n_entry", "m"):
            assert merged[t][knob] == cfg[knob]


def test_offboard_drops_calibration_partition(spark, vecs, ivf_prefix):
    """Offboarding a tenant removes its persisted calibration row —
    a stale stored width must not survive into a later re-onboard."""
    from embeddingsearch_spark.operators import lifecycle

    drop_table(spark, ivf_prefix + "_calib")
    queries, route = _queries_route(vecs)
    cal.calibrate_and_store_ivf(spark, ivf_prefix, queries, route)
    res = lifecycle.offboard_tenant(spark, ivf_prefix, "ivf", "globex")
    assert res["calib_partitions_dropped"] == 1
    left = cal.load_calibration(spark, ivf_prefix)
    assert set(left) == {"acme"}
    # restore the index for any later module test ordering
    for t in ("_assigned", "_centroids", "_calib"):
        drop_table(spark, ivf_prefix + t)


def test_pq_graph_aliased_and_cached_stored_serves(spark, vecs):
    """The aliased and cached ``config="stored"`` paths serve exactly
    what an explicit serve at the loaded knob values serves — PQ
    (refined at the stored factor) and graph (beam search at the
    stored config), each against the independently-loaded store."""
    from embeddingsearch_spark.operators import graphann, pq
    from embeddingsearch_spark.operators import query_cache as qc
    from embeddingsearch_spark.operators.graphann import (
        _graph_serve_groups,
    )
    from embeddingsearch_spark.storage import set_tenant_index_alias

    queries, route = _queries_route(vecs)

    # --- PQ aliased, config="stored"
    prefix = "es_test_calst_pqa"
    for t in ("_codes", "_codebooks", "_calib"):
        drop_table(spark, prefix + t)
    cbs = pq.initial_codebooks_federated(vecs, m_sub=4, k_codes=8)
    coded = pq.encode_pq_federated(vecs, cbs)
    pq.save_federated_pq_index(coded, cbs, prefix, n_buckets=2)
    cal.calibrate_and_store_pq(
        spark, prefix, vecs, queries, route, recall_target=0.9, k=5
    )
    drop_table(spark, "es_test_calst_al_talias")
    for t in ("acme", "globex"):
        set_tenant_index_alias(spark, "es_test_calst_al", t, prefix)
    got = pq.pq_federated_serve_aliased(
        spark, "es_test_calst_al", queries, route, k=5, emb=vecs,
        config="stored",
    )
    factors = cal.pq_stored_factor(spark, prefix, queries)
    want = None
    groups: dict = {}
    for t, fv in factors.items():
        groups.setdefault(fv, []).append(t)
    for fv, ts in sorted(groups.items()):
        rr = route.filter(F.col("source").isin(ts))
        qq = queries.join(rr.select("query_id").distinct(), "query_id")
        part = pq.pq_federated_refined(
            spark, prefix, vecs, qq, rr, k=5, refine_factor=fv
        )
        want = part if want is None else want.unionByName(part)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    # --- graph cached + aliased, config="stored"
    gprefix = "es_test_calst_ga"
    for t in ("_pairs", "_assigned", "_calib"):
        drop_table(spark, gprefix + t)
    w = Window.partitionBy("source").orderBy("vec_id")
    cents = (
        vecs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select(
            "source", F.col("vec_id").alias("centroid_id"), "embedding"
        )
        .localCheckpoint(eager=True)
    )
    assigned = graphann.assign_blocks_federated(vecs, cents, n_assign=2)
    pairs = graphann.block_pair_sims_federated(vecs, assigned)
    graphann.save_federated_graph_index(
        pairs, assigned, gprefix, n_buckets=2
    )
    cal.calibrate_and_store_graph(
        spark, gprefix, vecs, queries, route, recall_target=0.5, k=5
    )
    cfgs = cal.graph_stored_config(spark, gprefix, k=5)
    want = None
    for cfg, ts in _graph_serve_groups(cfgs):
        rr = route.filter(F.col("source").isin(ts))
        qq = queries.join(rr.select("query_id").distinct(), "query_id")
        part = graphann.graph_search_federated(
            spark, gprefix, vecs, qq, rr, k=5, beam=cfg["beam"],
            hops=cfg["hops"], n_entry=cfg["n_entry"], m=cfg["m"],
        )
        want = part if want is None else want.unionByName(part)
    want_rows = sorted(map(tuple, want.collect()))
    drop_table(spark, "es_test_calst_gcache")
    got_cached = qc.serve_graph_federated_cached(
        spark, "es_test_calst_gcache", gprefix, vecs, queries, route,
        {"acme": "v1", "globex": "v1"}, k=5, config="stored",
    )
    assert sorted(map(tuple, got_cached.collect())) == want_rows
    drop_table(spark, "es_test_calst_gal_talias")
    for t in ("acme", "globex"):
        set_tenant_index_alias(spark, "es_test_calst_gal", t, gprefix)
    got_al = graphann.graph_search_federated_aliased(
        spark, "es_test_calst_gal", vecs, queries, route, k=5,
        config="stored",
    )
    assert sorted(map(tuple, got_al.collect())) == want_rows


def test_retrain_and_recalibrate_ivf_tenants_refreshes_one(spark, vecs):
    """The wired action arm: retrain globex's quantizer AND refresh
    ONLY its stored width in one call — acme's calib row (value and
    recall_target) is byte-identical after, globex's reflects the new
    measurement target, and the stored serve runs."""
    prefix = "es_test_calst_rr"
    for t in ("_assigned", "_centroids", "_calib"):
        drop_table(spark, prefix + t)
    w = Window.partitionBy("source").orderBy("vec_id")
    cents = (
        vecs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 6)
        .select(
            "source", F.col("vec_id").alias("centroid_id"), "embedding"
        )
        .localCheckpoint(eager=True)
    )
    ann_ops.save_federated_ivf_index(
        ann_ops.assign_centroids_federated(vecs, cents), cents, prefix,
        n_buckets=2,
    )
    queries, route = _queries_route(vecs)
    cal.calibrate_and_store_ivf(
        spark, prefix, queries, route, recall_target=0.9
    )
    acme_before = sorted(
        map(
            tuple,
            spark.table(prefix + "_calib")
            .filter(F.col("source") == "acme")
            .collect(),
        )
    )
    gx = vecs.filter(F.col("source") == "globex")
    new_cents = (
        gx.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 9)  # re-sized quantizer
        .select(
            "source", F.col("vec_id").alias("centroid_id"), "embedding"
        )
    )
    widths = cal.retrain_and_recalibrate_ivf_tenants(
        spark, prefix, gx, new_cents, queries, route,
        recall_target=1.0, n_buckets=2,
    )
    assert set(widths) == {"globex"}
    tbl = spark.table(prefix + "_calib")
    acme_after = sorted(
        map(tuple, tbl.filter(F.col("source") == "acme").collect())
    )
    assert acme_after == acme_before
    gx_row = tbl.filter(F.col("source") == "globex").collect()
    assert len(gx_row) == 1 and gx_row[0]["recall_target"] == 1.0
    assert gx_row[0]["value"] == widths["globex"]
    served = ann_ops.ivf_federated_from_index(
        spark, prefix, queries, route, k=5, nprobe="stored"
    )
    assert served.count() > 0


def test_retrain_and_recalibrate_sq8_measures_dequantized(spark, vecs):
    """The SQ8 twin: the refresh swaps quantizer AND ranges for the
    flagged tenant, and the re-measurement runs against the RETRAINED
    dequantized codes; acme's calib partition is untouched and the
    compressed stored serve runs."""
    from embeddingsearch_spark.operators import sq

    prefix = "es_test_calst_rrsq8"
    for t in ("_codes", "_centroids", "_sqstats", "_calib"):
        drop_table(spark, prefix + t)
    w = Window.partitionBy("source").orderBy("vec_id")
    cents = (
        vecs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 6)
        .select(
            "source", F.col("vec_id").alias("centroid_id"), "embedding"
        )
        .localCheckpoint(eager=True)
    )
    stats = sq.sq8_stats(vecs, partition_col="source")
    sq.save_federated_ivf_sq8_index(
        spark,
        ann_ops.assign_centroids_federated(vecs, cents),
        cents, stats, prefix, n_buckets=2,
    )
    queries, route = _queries_route(vecs)
    from embeddingsearch_spark.operators.sq import (
        _dequant_expr,
        _join_stats,
    )

    deq = _join_stats(
        spark.table(prefix + "_codes"),
        spark.table(prefix + "_sqstats"),
        "source",
    ).select(
        "vec_id",
        "source",
        "centroid_id",
        _dequant_expr("codes").alias("embedding"),
    )
    cal.calibrate_and_store_ivf(
        spark, prefix, queries, route, recall_target=0.9,
        assigned_df=deq,
    )
    acme_before = sorted(
        map(
            tuple,
            spark.table(prefix + "_calib")
            .filter(F.col("source") == "acme")
            .collect(),
        )
    )
    gx = vecs.filter(F.col("source") == "globex")
    new_cents = (
        gx.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 9)
        .select(
            "source", F.col("vec_id").alias("centroid_id"), "embedding"
        )
    )
    widths = cal.retrain_and_recalibrate_ivf_sq8_tenants(
        spark, prefix, gx, new_cents, queries, route,
        recall_target=1.0, n_buckets=2,
    )
    assert set(widths) == {"globex"}
    tbl = spark.table(prefix + "_calib")
    assert sorted(
        map(tuple, tbl.filter(F.col("source") == "acme").collect())
    ) == acme_before
    gx_row = tbl.filter(F.col("source") == "globex").collect()
    assert len(gx_row) == 1 and gx_row[0]["recall_target"] == 1.0
    served = sq.ivf_sq8_federated_from_index(
        spark, prefix, queries, route, k=5, nprobe="stored"
    )
    assert served.count() > 0


def test_retrain_and_recalibrate_sq4_measures_packed_decode(spark, vecs):
    """The recalibration shares the SQ8 retrain, so on a PACKED SQ4
    generation it must decode the codes as SQ4 (an SQ8 decode of a
    packed row yields half the dims wrong and the rest NULL): the
    stored widths equal `ivf_calibrated_nprobe` measured over the
    public `sq4_dequantize` of the retrained codes, the decode the SQ4
    serve scores at."""
    from embeddingsearch_spark.operators import sq

    prefix = "es_test_calst_rrsq4"
    for t in ("_codes", "_centroids", "_sqstats", "_calib"):
        drop_table(spark, prefix + t)
    w = Window.partitionBy("source").orderBy("vec_id")
    cents = (
        vecs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 6)
        .select(
            "source", F.col("vec_id").alias("centroid_id"), "embedding"
        )
        .localCheckpoint(eager=True)
    )
    sq.save_federated_ivf_sq4_index(
        spark,
        ann_ops.assign_centroids_federated(vecs, cents),
        cents, sq.sq8_stats(vecs, partition_col="source"), prefix,
        n_buckets=2,
    )
    queries, route = _queries_route(vecs)
    gx = vecs.filter(F.col("source") == "globex")
    new_cents = (
        gx.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 9)
        .select(
            "source", F.col("vec_id").alias("centroid_id"), "embedding"
        )
    )
    widths = cal.retrain_and_recalibrate_ivf_sq8_tenants(
        spark, prefix, gx, new_cents, queries, route,
        recall_target=0.9, n_buckets=2,
    )
    codes = spark.table(prefix + "_codes")
    deq = sq.sq4_dequantize(
        codes, spark.table(prefix + "_sqstats"), partition_col="source"
    ).join(
        codes.select("vec_id", "source", "centroid_id"),
        ["vec_id", "source"],
    )
    want = ann_ops.ivf_calibrated_nprobe(
        spark, prefix, queries, route, recall_target=0.9,
        assigned_df=deq,
    )
    assert widths == {"globex": want["globex"]}
    stored = cal.ivf_stored_nprobe(spark, prefix, "source")
    assert stored["globex"] == want["globex"]


def test_retrain_and_recalibrate_pq_tenants_refreshes_one(spark, vecs):
    """The PQ twin of the wired action arm: codebook swap + re-encode
    for the flagged tenant, stored refine factor refreshed for it
    ALONE (acme's calib row byte-identical), stored cached serve
    runs."""
    from embeddingsearch_spark.operators import pq as pq_ops

    prefix = "es_test_calst_rrpq"
    for t in ("_codes", "_codebooks", "_calib"):
        drop_table(spark, prefix + t)
    cbs = pq_ops.initial_codebooks_federated(vecs, m_sub=4, k_codes=8)
    coded = pq_ops.encode_pq_federated(vecs, cbs)
    pq_ops.save_federated_pq_index(coded, cbs, prefix, n_buckets=2)
    queries, route = _queries_route(vecs)
    cal.calibrate_and_store_pq(
        spark, prefix, vecs, queries, route, recall_target=0.9
    )
    acme_before = sorted(
        map(
            tuple,
            spark.table(prefix + "_calib")
            .filter(F.col("source") == "acme")
            .collect(),
        )
    )
    gx = vecs.filter(F.col("source") == "globex")
    new_cbs = pq_ops.initial_codebooks_federated(
        gx, m_sub=4, k_codes=16
    )
    widths = cal.retrain_and_recalibrate_pq_tenants(
        spark, prefix, vecs, gx, new_cbs, queries, route,
        recall_target=1.0, n_buckets=2,
    )
    assert set(widths) == {"globex"}
    tbl = spark.table(prefix + "_calib")
    assert sorted(
        map(tuple, tbl.filter(F.col("source") == "acme").collect())
    ) == acme_before
    gx_row = tbl.filter(F.col("source") == "globex").collect()
    assert len(gx_row) == 1 and gx_row[0]["recall_target"] == 1.0
    served = pq_ops.pq_federated_refined(
        spark, prefix, vecs, queries, route, k=5,
        refine_factor=max(widths.values()),
    )
    assert served.count() > 0


def test_plan_serve_tier_picks_cheapest_eligible_and_degrades_loudly(spark):
    """The planner chooses the cheapest family meeting the target per
    tenant (ties by name), and when NO family meets the target it
    chooses the highest-recall one with meets_target=0 — the honest
    degraded choice, never a silent one."""
    from embeddingsearch_spark.operators import calibration as cal_ops

    bytes_df = spark.createDataFrame(
        [
            ("t1", "a", 100.0), ("t1", "b", 50.0), ("t1", "c", 10.0),
            ("t2", "a", 100.0), ("t2", "b", 50.0), ("t2", "c", 10.0),
        ],
        "source string, family string, bytes_per_query double",
    )
    recall_df = spark.createDataFrame(
        [
            # t1: b and a eligible -> b (cheaper); c cheapest but fails
            ("t1", "a", 0.99), ("t1", "b", 0.95), ("t1", "c", 0.5),
            # t2: none eligible -> a (highest recall), flagged
            ("t2", "a", 0.8), ("t2", "b", 0.7), ("t2", "c", 0.6),
        ],
        "source string, family string, recall double",
    )
    out = cal_ops.plan_serve_tier(
        bytes_df, recall_df, recall_target=0.9
    ).collect()
    chosen = {
        r["source"]: r for r in out if r["chosen"] == 1
    }
    assert chosen["t1"]["family"] == "b"
    assert chosen["t1"]["meets_target"] == 1
    assert chosen["t2"]["family"] == "a"
    assert chosen["t2"]["meets_target"] == 0
    assert len(out) == 6  # full chosen-vs-alternatives table


def test_family_recall_store_roundtrip_and_missing_raises(spark):
    """store_family_recall persists {family: {tenant: recall}} rows,
    load returns them as a frame, and loading a never-written store
    raises with the fix-it call (mirroring load_calibration)."""
    import pytest

    from embeddingsearch_spark.operators import calibration as cal_ops
    from embeddingsearch_spark.storage import drop_table

    pre = "es_test_famrec"
    drop_table(spark, pre + cal_ops.FAMILY_RECALL_SUFFIX)
    with pytest.raises(ValueError, match="no stored family recall"):
        cal_ops.load_family_recall(spark, pre)
    cal_ops.store_family_recall(
        spark, pre,
        {"sq8": {"acme": 0.99, "globex": 0.98},
         "sq4": {"acme": 0.86, "globex": 0.85}},
        recall_target=0.9,
    )
    rows = {
        (r["family"], r["source"]): r["recall"]
        for r in cal_ops.load_family_recall(spark, pre).collect()
    }
    assert rows[("sq8", "acme")] == 0.99
    assert rows[("sq4", "globex")] == 0.85
    # partition-overwrite refresh: one tenant's rows swap wholesale
    cal_ops.store_family_recall(
        spark, pre, {"sq8": {"acme": 0.97}}, recall_target=0.9
    )
    rows2 = {
        (r["family"], r["source"]): r["recall"]
        for r in cal_ops.load_family_recall(spark, pre).collect()
    }
    assert rows2[("sq8", "acme")] == 0.97
    assert ("sq4", "acme") not in rows2  # acme partition replaced
    assert rows2[("sq4", "globex")] == 0.85  # globex untouched
    drop_table(spark, pre + cal_ops.FAMILY_RECALL_SUFFIX)


def test_graph_steered_store_records_gain_and_retrain_resteers(spark, vecs):
    """The steer threaded through the persisted loop: the steered
    store records each tenant's gain_bp row (graph_stored_gain reads
    it back; graph_stored_config never leaks it into serve knobs),
    and the graph retrain-and-recalibrate arm re-measures the
    retrained tenant's gain against its NEW pair table while the
    other tenant's calib partition keeps its original values."""
    from embeddingsearch_spark.operators import graphann

    prefix = "es_test_calst_gsteer"
    for t in ("_pairs", "_assigned", "_calib"):
        drop_table(spark, prefix + t)
    w = Window.partitionBy("source").orderBy("vec_id")
    cents = (
        vecs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select(
            "source", F.col("vec_id").alias("centroid_id"), "embedding"
        )
        .localCheckpoint(eager=True)
    )
    assigned = graphann.assign_blocks_federated(vecs, cents, n_assign=2)
    pairs = graphann.block_pair_sims_federated(vecs, assigned).withColumn(
        "_lr", F.lit(False)
    ).unionByName(
        graphann.long_range_pairs(
            vecs, long_range=2, partition_col="source"
        )
    )
    graphann.save_federated_graph_index(
        pairs, assigned, prefix, n_buckets=2
    )
    cfgs = cal.store_steered_graph_auto_config(spark, prefix)
    gains0 = cal.graph_stored_gain(spark, prefix)
    assert set(gains0) == {"acme", "globex"}
    for t, cfg in cfgs.items():
        assert cfg["structure_gain"] == gains0[t]
    # the serve-knob overlay never carries the gain row
    merged = cal.graph_stored_config(spark, prefix)
    for cfg in merged.values():
        assert "gain_bp" not in cfg
    acme_knobs_before = cal.load_calibration(spark, prefix)["acme"]
    # retrain globex on a CLUSTERED twin (two tight translated blobs)
    # so its re-measured gain rises materially
    clustered = vecs.filter(F.col("source") == "globex").select(
        "vec_id",
        "source",
        F.transform(
            "embedding",
            # globex ids are all odd — split them into two tight
            # translated blobs via %4 (a %2 split would be a no-op)
            lambda x, i: x * 0.05
            + F.when(
                (F.col("vec_id") % 4 == 1) & (i == 0), F.lit(4.0)
            ).when(
                (F.col("vec_id") % 4 == 3) & (i == 1), F.lit(4.0)
            ).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    ).localCheckpoint(eager=True)
    new_cents = (
        clustered.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select(
            "source", F.col("vec_id").alias("centroid_id"), "embedding"
        )
    )
    q = clustered.filter(F.col("vec_id") % 7 == 0)
    stored = cal.retrain_and_recalibrate_graph_tenants(
        spark, prefix, clustered, new_cents,
        q.select(F.col("vec_id").alias("query_id"), "embedding"),
        q.select(F.col("vec_id").alias("query_id"), "source"),
        recall_target=0.5, k=5, n_buckets=2,
    )
    assert set(stored) == {"globex"}
    gains1 = cal.graph_stored_gain(spark, prefix)
    # acme's partition untouched: same gain row, same serve knobs
    assert gains1["acme"] == gains0["acme"]
    assert cal.load_calibration(spark, prefix)["acme"] == acme_knobs_before
    # globex re-measured against the retrained pair table
    assert gains1["globex"] != gains0["globex"]
    assert gains1["globex"] > gains0["globex"]  # gained structure
    for t in ("_pairs", "_assigned", "_calib"):
        drop_table(spark, prefix + t)


def test_serve_by_plan_routes_and_raises_loudly(spark):
    """serve_by_plan runs one serve per distinct chosen family over
    only the tenants that chose it (family stamped per row), raises
    if a routed tenant has no chosen row, and raises if a chosen
    family has no serve callable."""
    import pytest

    plan = spark.createDataFrame(
        [("t1", "a", 1), ("t1", "b", 0), ("t2", "b", 1)],
        "source string, family string, chosen int",
    )
    queries = spark.createDataFrame(
        [(1, [1.0]), (2, [2.0])], "query_id long, embedding array<double>"
    )
    route = spark.createDataFrame(
        [(1, "t1"), (2, "t2")], "query_id long, source string"
    )
    calls = []

    def mk(fam):
        def serve(q, r):
            calls.append((fam, sorted(x["source"] for x in r.collect())))
            return q.select(
                "query_id",
                F.lit(7).alias("vec_id"),
                F.lit(0.5).alias("cosine"),
                F.lit(1).alias("rank"),
            )
        return serve

    out = cal.serve_by_plan(
        spark, plan, {"a": mk("a"), "b": mk("b")}, queries, route
    ).collect()
    assert sorted(calls) == [("a", ["t1"]), ("b", ["t2"])]
    fam_by_q = {r["query_id"]: r["family"] for r in out}
    assert fam_by_q == {1: "a", 2: "b"}
    # routed tenant with no chosen row
    with pytest.raises(ValueError, match="no chosen family"):
        cal.serve_by_plan(
            spark, plan.filter(F.col("source") != "t2"),
            {"a": mk("a"), "b": mk("b")}, queries, route,
        )
    # chosen family without a serve callable
    with pytest.raises(ValueError, match="no serve callable"):
        cal.serve_by_plan(spark, plan, {"a": mk("a")}, queries, route)
