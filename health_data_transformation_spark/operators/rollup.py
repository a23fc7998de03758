"""Incremental partition-scoped rollup maintenance (the "continuous
aggregate" / hypertable-rollup pattern).

A dashboard hitting a 100 TB fact table re-aggregates the same history
on every view; the scalable shape is a maintained rollup table that each
ingest refreshes ONLY for the partitions the incoming batch touched:

    refresh cost ~ batch partitions, not table history.

Implementation: recompute the aggregate for the touched partition values
from the (already partition-pruned) fact scan, then overwrite just those
partitions of the rollup via dynamic partition overwrite — readers of
untouched partitions are never disturbed, and re-running a refresh is
idempotent (same input partitions -> same output partitions).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation


def refresh_rollup(
    fact: DataFrame,
    rollup_path: str,
    partition_col: str,
    touched: Sequence,
    aggregate: Callable[[DataFrame], DataFrame],
) -> int:
    """Recompute ``aggregate`` for the ``touched`` partition values of
    ``fact`` and overwrite exactly those partitions of the rollup table.

    ``aggregate`` must group by ``partition_col`` (plus any dims) so the
    output can be partitioned the same way.  Returns rows written,
    observed on the write itself.
    """
    if not len(touched):
        return 0
    scoped = fact.filter(F.col(partition_col).isin(list(touched)))
    observation = Observation()
    result = aggregate(scoped).observe(
        observation, F.count(F.lit(1)).alias("rows")
    )
    (
        result.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(rollup_path)
    )
    return observation.get["rows"]


def touched_partitions(batch: DataFrame, partition_col: str) -> list:
    """Distinct partition values present in an incoming batch (the probe
    that scopes both the dedup anti-join and the rollup refresh)."""
    return [r[0] for r in batch.select(partition_col).distinct().collect()]
