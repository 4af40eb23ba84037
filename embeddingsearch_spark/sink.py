"""MERGE-capable storage seam for persisted-index maintenance.

Every persisted index (term-bucketed postings, positional index,
graph-ANN pair/assignment tables, PQ codes) is maintained by the same
storage operation: **delete the rows keyed by a batch's ids, insert the
batch's freshly derived rows** — the reference's delete/upsert-by-join
semantics (DatabaseHelper.cs:196-209, SearchdomainHelper.cs:148-343)
applied to index rows instead of entity rows. At 100 TB an ingest batch
must not cost a full index rewrite, so the operation is a SEAM:

- `MergeSink` is the warehouse implementation — one ANSI
  ``MERGE INTO … WHEN MATCHED THEN DELETE`` against the key set plus an
  append, which ACID table formats (Delta, Iceberg) execute by
  rewriting only the files that contain matched rows. Cost: the batch
  plus touched files. The MERGE text is unit-asserted; the local
  container has no ACID format baked in, so the class is the
  production slot-in, not the test path.
- `ParquetRewriteSink` is the documented local fallback — anti-join
  the stored table on the key set, union the inserts, eagerly pin,
  drop-and-rewrite the bucketed table. Cost: one table rewrite per
  batch (what the seam exists to remove); semantics are identical,
  which the contract tests prove by rebuild-equivalence.

Both implementations share one contract: after
``delete_insert(table, insert, key_cols, delete_keys)`` the table
equals ``old_rows − (rows whose value in ANY of key_cols ∈
delete_keys) ∪ insert``. Multi-column keys cover the graph pair table,
where a vector's deletion must remove pairs on EITHER endpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _keys_one_col(delete_keys: DataFrame, alias: str) -> DataFrame:
    """Normalize a delete-key frame to one distinct column ``alias``
    (callers pass whatever single-column frame they have)."""
    first = delete_keys.columns[0]
    return delete_keys.select(F.col(first).alias(alias)).distinct()


class IndexSink:
    """The seam: delete-by-key + insert into a persisted index table."""

    def delete_insert(
        self,
        spark,
        table: str,
        insert: DataFrame,
        key_cols: list[str],
        delete_keys: DataFrame | None = None,
        bucket_cols: list[str] | None = None,
        n_buckets: int = 32,
        partition_cols: list[str] | None = None,
    ) -> str:
        raise NotImplementedError


class ParquetRewriteSink(IndexSink):
    """Local fallback: full-table rewrite with identical semantics.

    The merged frame is eagerly pinned before the overwrite so the
    write never reads the table it replaces (the invariant every
    upserter relied on before the seam existed)."""

    def delete_insert(
        self,
        spark,
        table: str,
        insert: DataFrame,
        key_cols: list[str],
        delete_keys: DataFrame | None = None,
        bucket_cols: list[str] | None = None,
        n_buckets: int = 32,
        partition_cols: list[str] | None = None,
    ) -> str:
        from embeddingsearch_spark.storage import (
            drop_table,
            save_bucketed,
        )

        kept = spark.table(table)
        cols = kept.columns
        if delete_keys is not None:
            for kc in key_cols:
                kept = kept.join(
                    _keys_one_col(delete_keys, kc), kc, "left_anti"
                )
        # equi-joins move the key column first — restore the table's
        # column order so repeated upserts keep a stable schema
        merged = (
            kept.unionByName(insert)
            .select(*cols)
            .localCheckpoint(eager=True)
        )
        drop_table(spark, table)
        if n_buckets == 0:
            # unbucketed layout (the query-cache tables): plain
            # rewrite, appenders keep using saveAsTable(append)
            writer = merged.write
            if partition_cols:
                writer = writer.partitionBy(*partition_cols)
            writer.saveAsTable(table)
        else:
            save_bucketed(
                merged,
                table,
                bucket_cols or key_cols[:1],
                n_buckets=n_buckets,
                partition_cols=partition_cols,
            )
        return table


class MergeSink(IndexSink):
    """Warehouse implementation: MERGE-delete + append.

    ``merge_sql`` is a pure function of (table, key_cols, keys view) so
    the statement an ACID catalog would execute is unit-assertable
    without one. ``delete_insert`` registers the key set as a temp
    view, runs the MERGE, and appends the insert frame — on Delta or
    Iceberg this rewrites only the files containing matched rows, so
    ingest cost scales with the batch, not the index. Bucketing
    arguments are accepted for interface parity and ignored: ACID
    formats cluster with OPTIMIZE/ZORDER instead of static buckets."""

    KEYS_VIEW = "_es_sink_delete_keys"

    @staticmethod
    def merge_sql(
        table: str, key_cols: list[str], keys_view: str | None = None
    ) -> str:
        """Single-key delete as a MERGE. Valid ONLY for one key
        column: the key set is distinct, so each target row matches at
        most one source row. A multi-key table (the graph pair table,
        keyed on either endpoint) would produce duplicate matches
        whenever both endpoints of a pair are in the key set — the
        common case for pair upserts (batch ids pair with each other) —
        and Delta/Iceberg REJECT a MERGE where one target row matches
        multiple source rows; those tables use `delete_sql`."""
        if len(key_cols) != 1:
            raise ValueError(
                "merge_sql is single-key only (duplicate-match rows "
                "fail on ACID catalogs); use delete_sql"
            )
        view = keys_view or MergeSink.KEYS_VIEW
        return (
            f"MERGE INTO {table} t USING {view} s "
            f"ON t.`{key_cols[0]}` = s.`_key` WHEN MATCHED THEN DELETE"
        )

    @staticmethod
    def delete_sql(
        table: str, key_cols: list[str], keys_view: str | None = None
    ) -> str:
        """Delete-by-key as an EXISTS-predicated DELETE — safe at any
        key-column count: a target row matching several source keys is
        still ONE deleted row, so the duplicate-match restriction
        MERGE carries on Delta/Iceberg cannot trigger."""
        view = keys_view or MergeSink.KEYS_VIEW
        on = " OR ".join(f"t.`{c}` = s.`_key`" for c in key_cols)
        return (
            f"DELETE FROM {table} t WHERE EXISTS "
            f"(SELECT 1 FROM {view} s WHERE {on})"
        )

    def delete_insert(
        self,
        spark,
        table: str,
        insert: DataFrame,
        key_cols: list[str],
        delete_keys: DataFrame | None = None,
        bucket_cols: list[str] | None = None,
        n_buckets: int = 32,
        partition_cols: list[str] | None = None,
    ) -> str:
        if delete_keys is not None:
            _keys_one_col(delete_keys, "_key").createOrReplaceTempView(
                self.KEYS_VIEW
            )
            stmt = (
                self.merge_sql(table, key_cols)
                if len(key_cols) == 1
                else self.delete_sql(table, key_cols)
            )
            spark.sql(stmt)
        insert.write.mode("append").saveAsTable(table)
        return table


class PartitionOverwriteSink(IndexSink):
    """For hive-PARTITIONED index tables (the lang-partitioned
    postings): delete-insert rewrites ONLY the partitions the batch
    touches — merged = (stored rows of affected partitions − rows
    keyed by delete_keys) ∪ insert, written with dynamic partition
    overwrite, so the untouched partitions' files are never read or
    written. The middle ground between the full local rewrite and an
    ACID MERGE: ingest cost scales with the touched partitions, which
    for language-routed corpora is the batch's language mix.

    Bucketing survives: insertInto on a bucketed+partitioned
    datasource table writes bucket files (verified by bucket-id file
    suffixes and an exchange-free bucket-key aggregation afterwards —
    plan-tested). A partition whose merged row-set becomes EMPTY
    (every doc deleted) cannot be rewritten by dynamic overwrite (no
    rows carry it), so those partitions are dropped explicitly via
    ALTER TABLE … DROP PARTITION — ≤ |touched partitions| statements,
    bounded by the batch.

    ``partition_col`` may be a single column or a LIST for composite
    (multi-level) hive partitioning — e.g. (tenant, lang): a partition
    is then a value TUPLE, and "touched" means the exact tuple the
    batch lands in or a deleted key lives in, so a tenant's upsert
    never rewrites another tenant's partitions even within the same
    language."""

    def __init__(self, partition_col):
        self.pcols = (
            [partition_col]
            if isinstance(partition_col, str)
            else list(partition_col)
        )

    def delete_insert(
        self,
        spark,
        table: str,
        insert: DataFrame,
        key_cols: list[str],
        delete_keys: DataFrame | None = None,
        bucket_cols: list[str] | None = None,
        n_buckets: int = 32,
        partition_cols: list[str] | None = None,
    ) -> str:
        pcs = self.pcols
        old = spark.table(table)
        # affected partitions: where inserts land + where deleted keys
        # currently live (a deleted doc's partition must be rewritten
        # even if nothing new lands there)
        parts = insert.select(*pcs).distinct()
        if delete_keys is not None:
            for kc in key_cols:
                parts = parts.unionByName(
                    old.join(
                        _keys_one_col(delete_keys, kc), kc, "left_semi"
                    )
                    .select(*pcs)
                    .distinct()
                )
        parts = parts.distinct().localCheckpoint(eager=True)
        kept = old.join(F.broadcast(parts), pcs, "left_semi")
        if delete_keys is not None:
            for kc in key_cols:
                kept = kept.join(
                    _keys_one_col(delete_keys, kc), kc, "left_anti"
                )
        merged = kept.unionByName(insert).localCheckpoint(eager=True)
        emptied = parts.join(
            merged.select(*pcs).distinct(), pcs, "left_anti"
        ).collect()
        # insertInto resolves by POSITION: emit columns in table order
        cols = [f.name for f in old.schema.fields]
        # cluster on (partition dirs, bucket id) so each rewritten
        # (partition, bucket) cell lands as ONE file instead of one
        # per task — the same small-file tax save_bucketed documents;
        # when the caller supplies no bucket spec, cluster by the
        # partition dirs alone
        out = merged.select(*cols)
        ckeys = [F.col(c) for c in pcs]
        if bucket_cols and n_buckets:
            ckeys.append(
                F.pmod(
                    F.hash(*[F.col(c) for c in bucket_cols]),
                    F.lit(n_buckets),
                )
            )
        out = out.repartition(*ckeys)
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "dynamic")
        try:
            out.write.mode("overwrite").insertInto(table)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        for row in emptied:
            spec = ", ".join(
                "{}='{}'".format(c, str(row[c]).replace("'", "''"))
                for c in pcs
            )
            spark.sql(
                f"ALTER TABLE {table} DROP IF EXISTS "
                f"PARTITION ({spec})"
            )
        return table
