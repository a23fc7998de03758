"""Bucketed tables: pre-shuffled storage for co-located joins.

The 100 TB join story has three tiers:
1. small dim  -> broadcast hash join (no shuffle at all; q05/q07);
2. big x big, ad hoc -> shuffled sort-merge join with AQE (one shuffle
   per side per join);
3. big x big, *recurring* on the same key -> bucketed tables: both
   sides are hash-partitioned into the same number of buckets at WRITE
   time, so every subsequent join/aggregation on the bucket key runs
   with ZERO exchanges — the shuffle is paid once, at ingest, instead
   of per query.

`tests/test_bucketed.py` asserts the no-Exchange property from the
physical plan.  Caveats encoded here: both sides must agree on bucket
count and key, and the join carries a ``merge`` hint so a small side is
not broadcast instead (no session conf is changed).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) catalog table.

    Sorting within buckets additionally removes the per-query sort from
    sort-merge joins (the write pays it once).
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def cobucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: Sequence[str]
) -> DataFrame:
    """Join two tables bucketed on ``on`` with the same bucket count.

    A sort-merge join (``merge`` hint) — Catalyst recognizes the
    matching output partitioning from the bucket spec and elides both
    exchanges.
    """
    return (
        spark.table(left_table)
        .hint("merge")
        .join(spark.table(right_table), list(on))
    )
