"""Warehouse catalog: partitioned-parquet table store with idempotent
append (SURVEY.md §7.0 engine/catalog role).

Replaces the reference's PostgreSQL tables + per-row INSERT/probe
round-trips (load_hhs.py:70-145) with:
- partitioned parquet per table (partition keys in schemas.TABLE_PARTITIONS
  — date-partitioned facts give partition-pruned queries)
- idempotent append = left-anti join on the natural key then append
  (D4 first-wins upsert; re-delivering a file is a no-op)
- quarantine sinks for rejected rows (load_hhs.py:152-155 pattern)

Atomicity: one append = one Spark job writing through the parquet
committer (task/job commit protocol), matching the reference's
per-file transaction (load_hhs.py:148).  A Delta/Iceberg table format
would add multi-writer isolation; out of scope for this store but the
API is format-agnostic.

100 TB notes: the anti-join's existing side reads ONLY the key columns
(column pruning), but of EVERY partition: a LeftAnti join is not
eligible for dynamic partition pruning, so the probe's only partition
filter is ``isnotnull(<partition key>)`` and its cost scales with the
table history, not the batch.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .schemas import TABLE_KEYS, TABLE_PARTITIONS, TABLE_SCHEMAS

# Characters Spark/Hive percent-escape in partition directory names
# (ExternalCatalogUtils.escapePathName: control chars, '"', '#', '%',
# "'", '*', '/', ':', '=', '?', '\\', DEL, '{', '[', ']', '^').
_PATH_ESCAPE_CHARS = (
    set('"#%\'*/:=?\\{[]^') | {chr(c) for c in range(0x20)} | {chr(0x7F)}
)


def _escape_path_name(s: str) -> str:
    return "".join(
        f"%{ord(ch):02X}" if ch in _PATH_ESCAPE_CHARS else ch for ch in s
    )


def _partition_dir(parts: Sequence[str], vals: Sequence) -> str:
    """Relative partition directory exactly as Spark writes it (same
    escaping + __HIVE_DEFAULT_PARTITION__ for NULL)."""
    segs = []
    for p, v in zip(parts, vals):
        val = "__HIVE_DEFAULT_PARTITION__" if v is None else _escape_path_name(str(v))
        segs.append(f"{_escape_path_name(p)}={val}")
    return os.path.join(*segs)


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        path = self.path(table)
        if not os.path.exists(path):
            return False
        # a partitioned dir with only _SUCCESS markers is still "empty"
        for _, _, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, table: str) -> DataFrame:
        """Read a table; empty DataFrame with the declared schema if absent."""
        if not self.exists(table):
            # 0-partition empty frame: createDataFrame([], schema)
            # parallelizes an empty list over defaultParallelism (= all
            # cores), so every downstream action on an absent table ran
            # a full width of empty tasks (q169 profiled 6+ such
            # 32-task stages per load at ~0 cpu — pure scheduler cost,
            # and at cluster scale pure scheduler RPC load)
            return self.spark.createDataFrame(
                self.spark.sparkContext.emptyRDD(), TABLE_SCHEMAS[table]
            )
        df = self.spark.read.schema(TABLE_SCHEMAS[table]).parquet(self.path(table))
        # partition columns come back at the end; restore declared order
        return df.select(*[f.name for f in TABLE_SCHEMAS[table].fields])

    def append(self, df: DataFrame, table: str) -> None:
        """Append rows, partitioned per TABLE_PARTITIONS."""
        cols = [f.name for f in TABLE_SCHEMAS[table].fields]
        writer = df.select(*cols).write.mode("append")
        parts = TABLE_PARTITIONS.get(table, [])
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(self.path(table))

    def append_idempotent(
        self, df: DataFrame, table: str, keys: Sequence[str] | None = None
    ) -> int:
        """First-wins upsert (D4): insert rows whose key is absent.

        Existing side is pruned to key columns but not to partitions:
        the LeftAnti probe reads the keys of every partition.  Returns
        the number of rows appended.
        """
        keys = list(keys or TABLE_KEYS[table])
        if self.exists(table):
            existing = self.read(table).select(*keys)
            fresh = df.join(existing, keys, "left_anti")
        else:
            # first load: anti-joining an empty existing side is a
            # no-op the optimizer cannot prove (the empty frame is an
            # RDD scan, not a LocalRelation) — skip the join outright
            fresh = df
        # one deterministic winner per key *within* the batch as well
        fresh = fresh.dropDuplicates(keys)
        n = fresh.count()
        if n:
            self.append(fresh, table)
        return n

    def upsert_last_wins(
        self, df: DataFrame, table: str, keys: Sequence[str] | None = None
    ) -> int:
        """MERGE-style upsert: incoming rows REPLACE existing rows with
        the same key (the complement of append_idempotent's first-wins).

        Emulated without a table format: for a partitioned table, only
        the partitions present in the batch are rewritten (anti-join of
        the old partition contents against the batch keys, union the
        batch, dynamic partition overwrite) — cost scales with the batch
        partitions, not table history.  Unpartitioned tables rewrite
        whole (they are dimension-sized by design).  Returns batch rows
        applied.
        """
        keys = list(keys or TABLE_KEYS[table])
        cols = [f.name for f in TABLE_SCHEMAS[table].fields]
        batch = df.select(*cols).dropDuplicates(keys)
        n = batch.count()
        if not n:
            return 0
        if not self.exists(table):
            self.append(batch, table)
            return n

        parts = TABLE_PARTITIONS.get(table, [])
        existing = self.read(table)
        if parts:
            part_vals = batch.select(*parts).distinct()
            touched = existing.join(F.broadcast(part_vals), parts, "left_semi")
            survivors = touched.join(batch.select(*keys), keys, "left_anti")
            # materialize BEFORE overwriting the path being read from
            merged = survivors.unionByName(batch).localCheckpoint()
            (
                merged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*parts)
                .parquet(self.path(table))
            )
        else:
            survivors = existing.join(batch.select(*keys), keys, "left_anti")
            merged = survivors.unionByName(batch).localCheckpoint()
            merged.write.mode("overwrite").parquet(self.path(table))
        return n

    def delete_keys(
        self, table: str, keys_df: DataFrame, keys: Sequence[str]
    ) -> int:
        """Targeted deletion ("right to be forgotten"): remove every row
        matching the key set, rewriting ONLY the partitions that contain
        matches (anti-join survivors + dynamic partition overwrite, the
        upsert_last_wins machinery inverted).

        Partitions left empty by the delete are removed explicitly —
        dynamic overwrite only replaces partitions present in the
        written data, so a fully-deleted partition would otherwise
        silently keep its old files (a real compliance bug).  Returns
        rows deleted.
        """
        if not self.exists(table):
            return 0
        keys = list(keys)
        key_set = keys_df.select(*keys).distinct()
        existing = self.read(table)
        doomed = existing.join(F.broadcast(key_set), keys, "left_semi")
        n = doomed.count()
        if not n:
            return 0
        parts = TABLE_PARTITIONS.get(table, [])
        if not parts:
            survivors = existing.join(F.broadcast(key_set), keys, "left_anti")
            merged = survivors.localCheckpoint()
            merged.write.mode("overwrite").parquet(self.path(table))
            return n

        doomed_parts = doomed.select(*parts).distinct()
        part_vals = [tuple(r) for r in doomed_parts.collect()]
        touched = existing.join(F.broadcast(doomed_parts), parts, "left_semi")
        survivors = (
            touched.join(F.broadcast(key_set), keys, "left_anti").localCheckpoint()
        )
        surviving_parts = {
            tuple(r) for r in survivors.select(*parts).distinct().collect()
        }
        (
            survivors.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*parts)
            .parquet(self.path(table))
        )
        # drop partition dirs the delete emptied entirely
        import shutil

        for vals in part_vals:
            if vals not in surviving_parts:
                d = os.path.join(self.path(table), _partition_dir(parts, vals))
                if os.path.isdir(d):
                    shutil.rmtree(d)
        # pre-delete readers hold a stale file listing for this path
        keys_df.sparkSession.catalog.refreshByPath(self.path(table))
        return n

    def compact(self, table: str, target_file_mb: int = 128) -> int:
        """Bin-pack small files: rewrite the table at ~target_file_mb per
        file, preserving the partition layout.

        Incremental appends (weekly loads) accrete one small file per
        batch per partition; at warehouse scale the file-listing and
        per-file open costs come to dominate scans long before data
        volume does.  Rewrite-to-temp then atomic swap keeps readers
        consistent (single-writer assumption, same as the reference's
        per-file transaction).  Returns the resulting file count.
        """
        import shutil

        if not self.exists(table):
            return 0
        df = self.read(table)
        size_bytes = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(self.path(table))
            for f in files
            if f.endswith(".parquet")
        )
        n_files = max(1, round(size_bytes / (target_file_mb * 1024 * 1024)))

        tmp = self.path(table) + ".compact_tmp"
        cols = [f.name for f in TABLE_SCHEMAS[table].fields]
        parts = TABLE_PARTITIONS.get(table, [])
        # repartition by the partition columns so each output partition
        # dir gets coalesced files (not one file per input task)
        out = df.select(*cols)
        out = out.repartition(n_files, *parts) if parts else out.repartition(n_files)
        writer = out.write.mode("overwrite")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(tmp)

        final = self.path(table)
        shutil.rmtree(final)
        os.rename(tmp, final)
        return sum(
            1
            for _, _, files in os.walk(final)
            for f in files
            if f.endswith(".parquet")
        )

    def quarantine(self, df: DataFrame, name: str) -> None:
        """Write rejected input rows verbatim (plus _failed_rules) as CSV,
        mirroring invalid_data/*.csv (load_hhs.py:153-155)."""
        out = df
        if "_failed_rules" in df.columns:
            out = df.withColumn("_failed_rules", F.concat_ws(";", "_failed_rules"))
        (
            out.write.mode("append")
            .option("header", True)
            .csv(os.path.join(self.root, "invalid", name))
        )
