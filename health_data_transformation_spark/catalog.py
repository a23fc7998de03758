"""Warehouse catalog: partitioned-parquet table store with idempotent
append (SURVEY.md §7.0 engine/catalog role).

Replaces the reference's PostgreSQL tables + per-row INSERT/probe
round-trips (load_hhs.py:70-145) with:
- partitioned parquet per table (partition keys in schemas.TABLE_PARTITIONS
  — date-partitioned facts give partition-pruned queries)
- idempotent append = left-anti join on the natural key then append
  (D4 first-wins upsert; re-delivering a file is a no-op)
- quarantine sinks for rejected rows (load_hhs.py:152-155 pattern)

One pass per append: the anti-join, the in-batch dedup and the row
count run in the write's own execution (the count is an observation on
the written frame), so nothing is executed twice.  A write that adds no
rows adds no file: the schema-only part file Spark leaves on a flat
table, or the dir of a table that did not exist, is removed again
(single writer, as ``compact`` assumes).

Atomicity: each append writes through the parquet committer
(task/job commit protocol), like the reference's per-file transaction
(load_hhs.py:148), but a crash during job commit can leave part of an
append visible.  A Delta/Iceberg table format would add atomic commits
and multi-writer isolation; out of scope for this store but the API is
format-agnostic.

100 TB notes: the anti-join's existing side reads ONLY the key columns
(column pruning), but of EVERY partition: a LeftAnti join is not
eligible for dynamic partition pruning, so the probe's only partition
filter is ``isnotnull(<partition key>)`` and its cost scales with the
table history, not the batch.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

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

    def append_idempotent(
        self, df: DataFrame, table: str, keys: Sequence[str] | None = None
    ) -> int:
        """First-wins upsert (D4): append the rows whose key is absent,
        partitioned per TABLE_PARTITIONS.

        Existing side is pruned to key columns but not to partitions:
        the LeftAnti probe reads the keys of every partition.  Returns
        the number of rows appended, observed on the write itself.
        """
        keys = list(keys or TABLE_KEYS[table])
        path = self.path(table)
        if self.exists(table):
            existing = self.read(table).select(*keys)
            fresh = df.join(existing, keys, "left_anti")
        else:
            # first load: anti-joining an empty existing side is a
            # no-op the optimizer cannot prove (the empty frame is an
            # RDD scan, not a LocalRelation) — skip the join outright
            fresh = df
        # one deterministic winner per key *within* the batch as well
        observation = Observation()
        fresh = fresh.dropDuplicates(keys).observe(
            observation, F.count(F.lit(1)).alias("rows")
        )
        before = set(os.listdir(path)) if os.path.isdir(path) else None
        writer = fresh.select(*[f.name for f in TABLE_SCHEMAS[table].fields]).write
        parts = TABLE_PARTITIONS.get(table, [])
        if parts:
            writer = writer.partitionBy(*parts)
        writer.mode("append").parquet(path)
        n = observation.get["rows"]
        if not n:
            # a write with no rows still makes the table dir, and on a
            # flat table a schema-only part file: take back what it added
            if before is None:
                shutil.rmtree(path)
            else:
                for name in set(os.listdir(path)) - before:
                    os.remove(os.path.join(path, name))
        return n

    def delete_keys(
        self, table: str, keys_df: DataFrame, keys: Sequence[str]
    ) -> int:
        """Targeted deletion ("right to be forgotten"): remove every row
        matching the key set, rewriting ONLY the partitions that contain
        matches (anti-join survivors + dynamic partition overwrite, the
        partition-scoped rewrite a MERGE would use).

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
