"""Bucketed table layout — co-located joins without exchanges.

At 100 TB the recurring joins (index_flat ⋈ entities on (searchdomain,
entity); embeddings ⋈ datapoints on ids; fact ⋈ fact) shuffle both sides
every query unless the storage layout already agrees with the join key.
Writing both sides bucketed by the join key into the catalog lets Spark
plan a SortMergeJoin with ZERO Exchange operators (plan-tested): each
bucket pair joins in place, forever, for every downstream query.

Partitioning (searchdomain) prunes; bucketing (entity / key) co-locates.
The two compose: `partitionBy("searchdomain").bucketBy(n, "entity")`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def compact(
    spark,
    path: str,
    target_file_mb: int = 256,
    partition_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
    file_format: str = "parquet",
) -> dict:
    """Rewrite a parquet dataset into ~``target_file_mb`` files — the
    small-file remedy. Continuous ingest (foreachBatch appends, streaming
    sinks, per-trigger micro-batches) accretes thousands of KB-scale
    files; at 100 TB that murders scan planning (one task + one open per
    file) and the driver's file index. Compaction = read → repartition to
    ceil(bytes / target) → rewrite atomically (write new dir, swap).

    ``partition_cols`` preserves hive partitioning (files coalesce WITHIN
    each partition via repartition on the partition key); ``sort_cols``
    additionally sorts within files for min/max row-group skipping.
    Returns {"files_before", "files_after", "bytes"}.
    """
    import math
    import shutil

    from pyspark.sql import functions as F

    src = spark.read.format(file_format).load(path)
    # size the output from the actual on-disk bytes, not row counts
    files = _list_data_files(path)
    total_bytes = sum(sz for _, sz in files)
    n_out = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))

    tmp = path.rstrip("/") + "._compact_tmp"
    writer_df = src
    if partition_cols:
        writer_df = writer_df.repartition(n_out, *[F.col(c) for c in partition_cols])
    else:
        writer_df = writer_df.repartition(n_out)
    if sort_cols:
        writer_df = writer_df.sortWithinPartitions(*sort_cols)
    w = writer_df.write.format(file_format).mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.save(tmp)

    old = path.rstrip("/") + "._compact_old"
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
    return {
        "files_before": len(files),
        "files_after": len(_list_data_files(path)),
        "bytes": total_bytes,
    }


def _list_data_files(path: str) -> list[tuple[str, int]]:
    import os

    out = []
    for root, _, names in os.walk(path):
        for n in names:
            if (
                not n.startswith(("_", "."))
                and not n.endswith((".crc", "_SUCCESS"))
            ):
                p = os.path.join(root, n)
                out.append((p, os.path.getsize(p)))
    return out


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    order_cols: list[str] | None = None,
    file_format: str = "parquet",
    max_records_per_file: int | None = None,
) -> dict:
    """Write a training-ready dataset as exactly ``n_shards`` files (plus
    optional per-file record caps) — the layout data loaders want: a
    fixed, enumerable shard list with deterministic content.

    With a ``shard`` column (e.g. from `splits.epoch_shuffle` — rows land
    in THEIR shard, so membership is reproducible across writes), output
    is hive-partitioned by shard: `repartition(n, shard)` clusters each
    shard into one task, so every ``shard=K/`` directory holds exactly
    one file (hash collisions between shard values only co-locate whole
    shards in a task — the writer still splits per directory). Without a
    shard column, round-robin into ``n_shards`` files. ``order_cols``
    sorts within each shard file (loaders that stream sequentially read
    a stable order; epoch_shuffle's ``pos`` goes here). One shuffle
    total; ``maxRecordsPerFile`` splits oversized shards without another
    pass.

    Returns {"n_files", "rows"} for the written dataset.
    """
    from pyspark.sql import functions as F

    by_shard = "shard" in df.columns
    if by_shard:
        out = df.repartition(n_shards, F.col("shard"))
    else:
        out = df.repartition(n_shards)
    if order_cols:
        out = out.sortWithinPartitions(*order_cols)
    writer = out.write.format(file_format).mode("overwrite")
    if by_shard:
        writer = writer.partitionBy("shard")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.save(path)
    spark = df.sparkSession
    written = spark.read.format(file_format).load(path)
    return {"n_files": len(_list_data_files(path)), "rows": written.count()}


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    file_format: str = "parquet",
) -> None:
    """MERGE-grade selective rewrite: replace ONLY the hive partitions
    present in ``df``, leaving every other partition's files untouched on
    disk (dynamic partition overwrite). This is what makes ingest cost
    scale with the BATCH, not the corpus: an upsert touching one
    searchdomain rewrites that one ``searchdomain=X/`` directory while a
    99-TB tail of untouched partitions is never read or written.

    The session conf is flipped to ``dynamic`` only for the duration of
    the write and restored after (other writers in the session keep
    static semantics).
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        df.write.format(file_format).mode("overwrite").partitionBy(
            *partition_cols
        ).save(path)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def remove_partition_dirs(
    path: str, partition_col: str, values: list[str]
) -> list[str]:
    """Drop hive partition directories for ``values`` (the DELETE half of
    MERGE: dynamic overwrite can only replace partitions it writes rows
    into, so a partition whose row-set became empty must have its
    directory removed explicitly). Returns the values actually removed.

    Values are matched via Spark's hive layout ``col=value``; names with
    characters Spark escapes in partition paths (``/ : =`` etc.) are
    resolved by scanning the directory listing and unescaping.
    """
    import os
    import shutil
    from urllib.parse import unquote

    removed = []
    want = set(values)
    if not os.path.isdir(path):
        return removed
    prefix = f"{partition_col}="
    for name in os.listdir(path):
        if not name.startswith(prefix):
            continue
        val = unquote(name[len(prefix):])
        if val in want:
            shutil.rmtree(os.path.join(path, name))
            removed.append(val)
    return removed


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    file_format: str = "parquet",
) -> None:
    """Write ``df`` as a catalog table bucketed (and sorted) by
    ``bucket_cols``; joins/aggregations on those columns then need no
    exchange. ``n_buckets`` sets max join parallelism — size it to the
    cluster (buckets ≈ 2-4x total cores at target scale).

    The input is first clustered by (partition dirs, bucket id): a
    bucketed writer emits one file per TASK per (directory, bucket)
    present in the task, so an M-partition input writes up to
    M × dirs × buckets KB-scale files — at 32 local cores that made a
    tiny IVF codes table ~1200 files whose per-file open/footer cost
    dominated every downstream serve (and at 100 TB it is the classic
    small-file scan-planning tax). Clustering on the writer's own
    bucket-id expression — `pmod(hash(bucket_cols), n_buckets)`,
    exactly `HashPartitioning.partitionIdExpression` — lands each
    output file's rows in one task, so the table materializes at its
    intended granularity: one file per (partition dir, bucket)."""
    from pyspark.sql import functions as F

    bucket_id = F.pmod(
        F.hash(*[F.col(c) for c in bucket_cols]), F.lit(n_buckets)
    )
    cluster_keys = [
        *(F.col(c) for c in (partition_cols or [])), bucket_id,
    ]
    writer = (
        df.repartition(*cluster_keys)
        .write.format(file_format)
        .mode(mode)
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.bucketBy(n_buckets, *bucket_cols).sortBy(*bucket_cols).saveAsTable(
        table
    )


def compact_index_table(
    spark,
    table: str,
    max_files_per_partition: int | None = 4,
    target_file_mb: int = 128,
) -> dict:
    """Small-file compaction for a hive-partitioned (optionally
    bucketed) CATALOG index table that writers APPEND to (an injected
    `sink.MergeSink`, plain ``insertInto`` appends): each append lands
    its own file set in the cells it touches, and KB-scale files murder
    scan planning (one task + one open per file). Upserts through
    `save_bucketed` / `sink.PartitionOverwriteSink` never fragment —
    they leave each touched cell at <= n_buckets files. This rewrites
    ONLY the partitions whose data-file count exceeds
    ``max_files_per_partition`` — floored at the table's bucket count,
    since a partition at bucket granularity is already compact —
    through the same dynamic-overwrite insertInto path the sink uses
    (bucketing survives — verified), one writer task per fragmented
    partition, so each compacted cell ends at ≤ n_buckets files;
    partitions under the bound are never read or written
    (byte-identical; tested). Rows and serving results are unchanged
    by construction (gated: a post-compaction serve shares the
    uncompacted oracle verbatim). ``max_files_per_partition=None``
    switches to the ADAPTIVE bound: a partition is fragmented iff it
    holds more than 2× the files its byte volume needs at
    ``target_file_mb`` per file (floor 4) — so a big partition keeps
    its legitimately-many files. Returns {"partitions_compacted",
    "files_before", "files_after"} (file counts over the fragmented
    partitions only)."""
    import os
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    desc = _describe(spark, table)
    loc = _table_location(spark, table, desc)
    if loc is None:
        raise ValueError(f"cannot resolve location of {table}")
    if not os.path.isdir(loc):
        # os.walk on a non-local warehouse (s3://, hdfs://) would
        # silently yield no entries and report 0 partitions compacted —
        # fail loudly instead; remote catalogs compact through their
        # own OPTIMIZE/rewrite-data-files maintenance
        raise ValueError(
            f"{table} location {loc!r} is not a local directory — "
            "compact_index_table walks the local filesystem; on a "
            "remote warehouse use the catalog's own compaction"
        )
    pcols = [
        c.name
        for c in spark.catalog.listColumns(table)
        if c.isPartition
    ]
    if not pcols:
        raise ValueError(
            f"{table} is not partitioned — use storage.compact on its "
            "location instead"
        )
    old = spark.table(table)
    types = {
        f.name: f.dataType.simpleString() for f in old.schema.fields
    }

    def leaf_listing():
        out = {}
        for root, _, names in os.walk(loc):
            data = [
                n
                for n in names
                if not n.startswith(("_", "."))
                and not n.endswith((".crc", "_SUCCESS"))
            ]
            if not data:
                continue
            rel = os.path.relpath(root, loc)
            kv = dict(
                p.split("=", 1)
                for p in rel.split(os.sep)
                if "=" in p
            )
            if set(kv) != set(pcols) or any(
                v == "__HIVE_DEFAULT_PARTITION__" for v in kv.values()
            ):
                continue
            nbytes = sum(
                os.path.getsize(os.path.join(root, n)) for n in data
            )
            out[tuple(kv[c] for c in pcols)] = (len(data), nbytes)
        return out

    n_buckets = int(desc.get("Num Buckets") or 0)

    def bound(nbytes: int) -> int:
        # adaptive mode: a partition legitimately needs about
        # ceil(bytes / target_file_mb) files (one task open per file
        # is the scan cost being bounded); 2× slack + a floor of 4
        # tolerates normal write parallelism before rewriting
        if max_files_per_partition is not None:
            return max(n_buckets, int(max_files_per_partition))
        import math

        need = 2 * math.ceil(nbytes / (target_file_mb * 1024 * 1024))
        return max(4, n_buckets, need)

    counts = leaf_listing()
    frag = {
        t: n
        for t, (n, nbytes) in counts.items()
        if n > bound(nbytes)
    }
    if not frag:
        return {
            "partitions_compacted": 0,
            "files_before": 0,
            "files_after": 0,
        }
    cond = F.lit(False)
    for t in frag:
        c = F.lit(True)
        for pc, v in zip(pcols, t):
            c = c & (
                F.col(pc) == F.lit(unquote(v)).cast(types[pc])
            )
        cond = cond | c
    cols = [f.name for f in old.schema.fields]
    # pin BEFORE the overwrite: the rewrite reads the table it rewrites
    pinned = old.filter(cond).localCheckpoint(eager=True)
    rewrite = pinned.repartition(
        max(1, len(frag)), *[F.col(c) for c in pcols]
    ).select(*cols)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        rewrite.write.mode("overwrite").insertInto(table)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    after = leaf_listing()
    return {
        "partitions_compacted": len(frag),
        "files_before": sum(frag.values()),
        "files_after": sum(after.get(t, (0, 0))[0] for t in frag),
    }


def _describe(spark, table: str) -> dict:
    """A live table's ``DESCRIBE TABLE EXTENDED`` rows as {name: value}
    (Location, Num Buckets, ...); empty when the table does not exist."""
    # existence-check first: DESCRIBE on a missing table logs an ERROR
    # line even when the exception is caught
    if not spark.catalog.tableExists(table):
        return {}
    return {
        r[0]: r[1]
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }


def _table_location(spark, table: str, desc: dict | None = None):
    """Resolve a live table's storage location from the catalog (from
    ``desc``, its `_describe` rows, when the caller has them)."""
    from pathlib import Path
    from urllib.parse import urlparse

    loc = (_describe(spark, table) if desc is None else desc).get("Location")
    return Path(urlparse(loc).path) if loc else None


def drop_table(spark, table: str) -> None:
    """Drop a managed table AND its orphaned warehouse directory (a
    previous session's managed location survives a metastore reset and
    blocks saveAsTable even in overwrite mode).

    The directory is resolved from the CATALOG while the table still
    exists (DESCRIBE ... Location) — never guessed from the name alone
    for a live table, because a qualified ``db.tbl`` maps to
    ``<warehouse>/<db>.db/tbl``, and naive name-splitting would point
    at the DEFAULT database's unrelated table ``tbl``. Only when the
    catalog has no entry (the orphaned-directory case this function
    exists for) is the managed layout reconstructed, honoring the
    ``<db>.db/<table>`` convention."""
    import shutil
    from pathlib import Path
    from urllib.parse import urlparse

    try:
        loc = _table_location(spark, table)
    except Exception:
        loc = None
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if loc is None:
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
        if not wh:
            return
        parts = [p.lower() for p in table.split(".")]
        if len(parts) > 1 and parts[-2] != "default":
            loc = Path(wh) / f"{parts[-2]}.db" / parts[-1]
        else:
            loc = Path(wh) / parts[-1]
    if loc.exists():
        shutil.rmtree(loc, ignore_errors=True)


def replace_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    partition_cols: list[str] | None = None,
) -> str:
    """Drop-and-save a bucketed catalog table (the index-persistence
    primitive shared by the postings / graph-ANN / IVF index writers).
    The caller must ensure ``df`` does not read the table it replaces
    (pin with an eager checkpoint first when merging)."""
    drop_table(df.sparkSession, table)
    save_bucketed(
        df, table, bucket_cols, n_buckets=n_buckets,
        partition_cols=partition_cols,
    )
    return table


def drop_tenant_partitions(
    spark, table: str, partition_col: str, tenant: str
) -> int:
    """Drop every partition of ``table`` belonging to one collection:
    enumerate with a partial partition spec, drop one full spec at a
    time — bounded by the tenant's own partition count. Other
    collections' files are never read or written (the
    `offboard_tenant_ivf` loop, extracted for the family-generic
    lifecycle). Returns the number of partitions dropped."""
    from urllib.parse import unquote

    esc = str(tenant).replace("'", "''")
    parts = spark.sql(
        f"SHOW PARTITIONS {table} "
        f"PARTITION ({partition_col}='{esc}')"
    ).collect()
    for r in parts:
        spec = ", ".join(
            "{}='{}'".format(
                kv.split("=", 1)[0],
                unquote(kv.split("=", 1)[1]).replace("'", "''"),
            )
            for kv in r[0].split("/")
        )
        spark.sql(
            f"ALTER TABLE {table} DROP IF EXISTS PARTITION ({spec})"
        )
    return len(parts)


def write_manifest(
    spark,
    path: str,
    file_format: str = "parquet",
    manifest_name: str = "_manifest.json",
) -> dict:
    """Write a dataset manifest next to the data files: one JSON doc
    listing every data file with its byte size, row count, and sha256,
    plus dataset totals. This is what makes an exported training set
    REPRODUCIBLE — a loader (or an auditor) verifies it received exactly
    the shards the pipeline wrote, and a re-run proves byte-identity
    without re-reading content into the pipeline.

    Row counts come from the engine (one metadata-only count per file
    for parquet — footers, not data); hashes/sizes stream each file once
    driver-side (manifests are written per export, and object listings
    are driver work anyway). Returns the manifest dict; the JSON is
    written deterministically (sorted files, sorted keys) so identical
    exports produce byte-identical manifests.
    """
    import hashlib
    import json
    import os

    files = sorted(_list_data_files(path))
    entries = []
    total_rows = 0
    for fpath, size in files:
        h = hashlib.sha256()
        with open(fpath, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        n_rows = spark.read.format(file_format).load(fpath).count()
        total_rows += n_rows
        entries.append(
            {
                "file": os.path.relpath(fpath, path),
                "bytes": size,
                "rows": n_rows,
                "sha256": h.hexdigest(),
            }
        )
    manifest = {
        "format": file_format,
        "n_files": len(entries),
        "total_rows": total_rows,
        "total_bytes": sum(e["bytes"] for e in entries),
        "files": entries,
    }
    with open(os.path.join(path, manifest_name), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")
    return manifest


def verify_manifest(
    path: str, manifest_name: str = "_manifest.json"
) -> list[str]:
    """Check the data files against the manifest: returns a list of
    human-readable discrepancies (missing/extra/changed files) — empty
    means the export is intact. Size compares first (cheap); the sha256
    re-hash runs only when sizes match, so a truncated file is caught
    without hashing everything else."""
    import hashlib
    import json
    import os

    with open(os.path.join(path, manifest_name)) as f:
        manifest = json.load(f)
    expected = {e["file"]: e for e in manifest["files"]}
    actual = {
        os.path.relpath(p, path): s for p, s in _list_data_files(path)
    }
    problems = []
    for name in sorted(set(expected) - set(actual)):
        problems.append(f"missing: {name}")
    for name in sorted(set(actual) - set(expected)):
        problems.append(f"extra: {name}")
    for name in sorted(set(expected) & set(actual)):
        if actual[name] != expected[name]["bytes"]:
            problems.append(
                f"size mismatch: {name} "
                f"({actual[name]} vs {expected[name]['bytes']})"
            )
            continue
        h = hashlib.sha256()
        with open(os.path.join(path, name), "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        if h.hexdigest() != expected[name]["sha256"]:
            problems.append(f"content mismatch: {name}")
    return problems


def set_index_alias(spark, alias: str, prefix: str) -> None:
    """Point a logical index ``alias`` at a physical generation
    ``prefix`` — the blue/green swap primitive for the retrain cycle:
    the drift monitors (`streaming.annindex.monitored_*_ingest`) flag
    that the quantizer/codebooks/centroids went stale, the offline
    rebuild writes a NEW generation (``{alias}__g2_*`` tables) while
    the old one keeps serving, and this one-row overwrite flips
    readers to the new generation. Serve paths that resolve the alias
    per query (`resolve_index_alias`) never see a half-built index:
    the old generation's tables are untouched until the swap, and
    dropping them afterwards is garbage collection, not correctness.

    On a shared metastore the overwrite of the one-row mapping table
    is the transaction boundary (a single-table CREATE OR REPLACE VIEW
    achieves the same for single-table indexes; the mapping table also
    covers multi-table families — graph's _pairs/_assigned, PQ's
    _codes/_codebooks — whose generations must swap together)."""
    if not spark.catalog.tableExists(f"{alias}_alias"):
        # a stale location from a previous session (table gone from
        # this catalog, directory still on disk) would fail CREATE
        drop_table(spark, f"{alias}_alias")
    spark.createDataFrame([(prefix,)], "prefix string").write.mode(
        "overwrite"
    ).saveAsTable(f"{alias}_alias")


def resolve_index_alias(spark, alias: str) -> str:
    """The physical generation prefix an ``alias`` currently serves
    (one-row read — resolve once per query, then read the resolved
    generation's tables for the whole plan so a concurrent swap cannot
    split a query across generations)."""
    rows = spark.table(f"{alias}_alias").collect()
    if len(rows) != 1:
        raise ValueError(
            f"alias {alias!r} has {len(rows)} mapping rows (want 1)"
        )
    return rows[0]["prefix"]


def vacuum_index_generations(spark, alias: str) -> dict:
    """Garbage-collect superseded blue/green generations: the swap
    (`set_index_alias`) deliberately leaves the OLD generation's
    tables on disk — in-flight queries that resolved the alias before
    the flip finish against a complete index, and dropping afterwards
    is GC, not correctness. This is that GC: every ``{alias}__g*``
    table whose generation prefix is NOT the one the alias currently
    serves is dropped (all of a multi-table family's tables —
    _assigned/_centroids, _pairs, _codes/_codebooks — share the
    generation prefix, so they collect together). Run it AFTER the
    retrain cycle's in-flight drain window, exactly like an ACID
    format's VACUUM retention. Returns {"kept_prefix",
    "dropped_tables"}."""
    import re

    current = resolve_index_alias(spark, alias)
    cur_l = current.lower()
    pat = re.compile(re.escape(alias.lower()) + r"__g\d+")
    dropped = []
    for t in spark.catalog.listTables():
        name = t.name
        m = pat.match(name)
        if not m:
            continue
        gen = m.group(0)
        if gen == cur_l or cur_l.startswith(gen + "_"):
            continue
        # only whole-generation matches: __g2 must not claim __g21
        if name != gen and not name.startswith(gen + "_"):
            continue
        drop_table(spark, name)
        dropped.append(name)
    return {"kept_prefix": current, "dropped_tables": sorted(dropped)}


def set_tenant_index_alias(
    spark, alias: str, tenant: str, prefix: str, sink=None
) -> None:
    """PER-TENANT blue/green: the mapping table ``{alias}_talias``
    holds one (collection → physical generation prefix) row per
    tenant, so ONE collection can retrain into a new generation and
    flip while every other collection keeps serving its current one —
    `set_index_alias`'s swap primitive at searchdomain granularity
    (the blast-radius principle the whole federated layout follows).
    The one-row upsert routes through the sink seam: on a MERGE
    catalog the flip is ATOMIC (no drop-then-write window a
    concurrent resolve could fall into); the local parquet fallback
    keeps the documented rewrite. Serve paths resolve the whole map
    once per query (`resolve_tenant_index_alias`) so a concurrent
    flip cannot split one query across generations."""
    from embeddingsearch_spark.sink import ParquetRewriteSink

    t = f"{alias}_talias"
    row = spark.createDataFrame(
        [(str(tenant), str(prefix))], "tenant string, prefix string"
    )
    if not spark.catalog.tableExists(t):
        drop_table(spark, t)  # clear any orphaned directory
        row.write.saveAsTable(t)
        return
    (sink or ParquetRewriteSink()).delete_insert(
        spark, t, row, ["tenant"],
        delete_keys=row.select("tenant"), n_buckets=0,
    )


def resolve_tenant_index_alias(spark, alias: str) -> dict:
    """The {collection: generation prefix} map an alias currently
    serves (one read of a tenant-count-bounded table)."""
    return {
        r["tenant"]: r["prefix"]
        for r in spark.table(f"{alias}_talias").collect()
    }


def federated_serve_aliased(
    spark,
    alias: str,
    queries: "DataFrame",
    route: "DataFrame",
    serve,
    partition_col: str = "source",
    query_id_col: str = "query_id",
):
    """The generation-grouping core of per-tenant blue/green serving,
    family-agnostic: resolve each routed collection's current
    generation (`resolve_tenant_index_alias`), group tenants by the
    generation they point at, call ``serve(prefix, queries_subset,
    route_subset)`` once per LIVE generation (≈2 during a retrain
    window), and union — so ANY federated serve (`bm25_federated_from
    _index`, `ivf_federated_from_index`, the graph/PQ routed serves)
    flips per tenant with zero-downtime semantics through one helper.
    Raises on collections with no mapped generation."""
    from pyspark.sql import functions as F

    mapping = resolve_tenant_index_alias(spark, alias)
    routed = [
        r[0]
        for r in route.select(partition_col).distinct().collect()
    ]
    missing = sorted(t for t in routed if t not in mapping)
    if missing:
        raise ValueError(
            f"no index generation mapped for collections: {missing}"
        )
    by_prefix: dict = {}
    for t in routed:
        by_prefix.setdefault(mapping[t], []).append(t)
    out = None
    for prefix in sorted(by_prefix):
        r = route.filter(
            F.col(partition_col).isin(by_prefix[prefix])
        )
        q = queries.join(
            r.select(query_id_col).distinct(), query_id_col, "left_semi"
        )
        part = serve(prefix, q, r)
        out = part if out is None else out.unionByName(part)
    return out
