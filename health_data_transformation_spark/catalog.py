"""Warehouse catalog: the engine's tables by name, each one a snapshot
table (SURVEY.md §7.0 engine/catalog role).

Replaces the reference's PostgreSQL tables + per-row INSERT/probe
round-trips (load_hhs.py:70-145) with:
- one ``snapshots.SnapshotTable`` per table at ``<root>/<table>``,
  partitioned per schemas.TABLE_PARTITIONS (the date-partitioned facts
  keep one leaf directory per partition value and commit)
- idempotent append = left-anti join on the natural key then a
  snapshot append (D4 first-wins upsert; re-delivering a file is a
  no-op)
- quarantine sinks for rejected rows (load_hhs.py:152-155 pattern)

Atomicity: an append is a snapshot commit, visible all at once when its
manifest is published or not at all.  Appends run only inside
``Warehouse.load()``: the appends of one file load are written first
and published together at the end, so a load that fails in any write
leaves every table as it was — the reference's one transaction per
file (load_hhs.py:148).  The publishes themselves are manifest links,
no Spark work; a publish that fails (a racing committer, an I/O
error), or a process that dies between two of them, leaves the tables
published before it committed.

One pass per append: the anti-join, the in-batch dedup and the row
count run in the write's own execution (the count is an observation on
the written frame), so nothing is executed twice.  A batch that adds no
rows publishes nothing and leaves no file (a table never loaded has no
directory).  Date filters on a partitioned table prune its leaf
directories (``SnapshotTable.read``).  A flat table adds a commit
directory per adding load until the manifest would list more of them
than Spark's parallel partition discovery threshold; that append folds
the table into one directory (``SnapshotTable.stage_append``).  Nothing
on the load path vacuums: the directories a fold supersedes stay on
disk until ``snapshot-vacuum`` (``SnapshotTable.vacuum``) runs.

100 TB notes: the anti-join's existing side reads ONLY the key columns
(column pruning).  A LeftAnti join gets no dynamic partition pruning,
so on a partitioned table the append picks the probe's leaves itself:
one small job finds the batch's partition values, and only the leaves
the manifest lists for them are handed to Spark.  The probe then costs
O(batch partitions), not O(history), and a batch of partitions not yet
stored (a new week) runs no probe at all.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from .functions.sqltext import ident, with_columns
from .schemas import TABLE_KEYS, TABLE_PARTITIONS, TABLE_SCHEMAS
from .snapshots import SnapshotTable, Staged


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._tables: dict[str, SnapshotTable] = {}
        self._staged: list[Staged] | None = None

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def table(self, name: str) -> SnapshotTable:
        """The snapshot table behind ``name``.  A table dir that holds
        parquet outside ``data/`` and no manifest was written by the
        plain-parquet store this one replaced: it raises rather than
        read as empty."""
        if name not in self._tables:
            path = self.path(name)
            for dirpath, dirnames, files in os.walk(path):
                if dirpath == path:
                    if any(f.startswith("_v") for f in files):
                        break
                    dirnames[:] = [d for d in dirnames if d != "data"]
                if any(f.endswith(".parquet") for f in files):
                    raise ValueError(
                        f"{path} holds parquet files but no snapshot "
                        "manifest; reload it into an empty warehouse"
                    )
            self._tables[name] = SnapshotTable(
                self.spark, path, TABLE_PARTITIONS[name] or None
            )
        return self._tables[name]

    def read(self, table: str) -> DataFrame:
        """Read a table; empty DataFrame with the declared schema if absent."""
        t = self.table(table)
        if not t.current_version():
            # 0-partition empty frame: createDataFrame([], schema)
            # parallelizes an empty list over defaultParallelism (= all
            # cores), so every downstream action on an absent table ran
            # a full width of empty tasks (q169 profiled 6+ such
            # 32-task stages per load at ~0 cpu — pure scheduler cost,
            # and at cluster scale pure scheduler RPC load)
            return self.spark.createDataFrame(
                self.spark.sparkContext.emptyRDD(), TABLE_SCHEMAS[table]
            )
        return t.read()  # appends write the declared columns, in order

    @contextmanager
    def load(self) -> Iterator[None]:
        """One file load as one transaction: the appends made inside
        are written as they run and published together on exit; if
        anything inside raises, their data is removed and no table
        changes.  If a publish raises, the tables published before it
        stay committed and the rest are removed.  One load at a time
        per Warehouse; append each table at most once per load (a
        second append would not see the first one's rows).  Appends
        to different tables may run concurrently inside one load."""
        if self._staged is not None:
            raise RuntimeError("a load is already open on this Warehouse")
        self._staged = staged = []
        try:
            yield
            while staged:
                staged[0].publish()
                staged.pop(0)
        finally:
            for rest in staged:
                rest.discard()
            self._staged = None

    def append_idempotent(
        self, df: DataFrame, table: str, keys: Sequence[str] | None = None
    ) -> int:
        """First-wins upsert (D4): append the rows whose key is absent.

        The existing side is pruned to the key columns and, on a
        partitioned table, to the stored leaves of the batch's
        partitions (exact because the partition columns are among the
        keys).  Returns the number of rows appended, observed on the
        write itself.  Runs inside ``load()``; the rows become visible
        when it ends.
        """
        if self._staged is None:
            raise RuntimeError("append_idempotent runs inside Warehouse.load()")
        keys = list(keys or TABLE_KEYS[table])
        t = self.table(table)
        # with the partition columns among the keys, the stored leaves
        # of the batch's partitions are the whole probe
        t.check_match_keys(keys)
        existing = None
        if t.current_version():
            if t.partition_by is None:
                existing = self.read(table)
            else:
                touched = t._touched_partitions(df)
                if t.partition_dirs(touched):
                    existing = t.read(partitions=touched)
        # none stored (a first load, a new week): anti-joining an empty
        # existing side is a no-op the optimizer cannot prove (the
        # empty frame is an RDD scan, not a LocalRelation) — skip it
        fresh = df if existing is None else df.join(
            existing.selectExpr(*map(ident, keys)), keys, "left_anti"
        )
        # one deterministic winner per key *within* the batch as well
        observation = Observation()
        fresh = fresh.dropDuplicates(keys).observe(observation, F.expr("count(1) AS rows"))
        self._staged.append(
            t.stage_append(fresh.selectExpr(*map(ident, TABLE_SCHEMAS[table].names)))
        )
        return observation.get["rows"]

    def delete_keys(
        self, table: str, keys_df: DataFrame, keys: Sequence[str]
    ) -> int:
        """Targeted deletion ("right to be forgotten"): remove every row
        matching the key set.  A key-frame ``commit_delete`` rewrites
        only the partitions that contain matches, then ``vacuum`` keeps
        only the new version, so the rows are physically gone.  Returns
        rows deleted, as the rewrite observed them.
        """
        t = self.table(table)
        if not t.current_version():
            return 0
        v = t.commit_delete(keys_df.select(*keys))
        t.vacuum(retain_last=1)
        return t.manifest(v)["rows_deleted"]

    def quarantine(self, df: DataFrame, name: str) -> None:
        """Write rejected input rows verbatim (plus _failed_rules) as CSV,
        mirroring invalid_data/*.csv (load_hhs.py:153-155)."""
        out = df
        if "_failed_rules" in df.columns:
            out = with_columns(df, {"_failed_rules": "concat_ws(';', _failed_rules)"})
        (
            out.write.mode("append")
            .option("header", True)
            .csv(os.path.join(self.root, "invalid", name))
        )
