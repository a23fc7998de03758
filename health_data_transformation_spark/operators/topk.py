"""Top-k operators (SURVEY.md §2.4: LIMIT-4 recent weeks, top-20
states, top/bottom-10 ratings — /root/reference/Reporting.py:94,196,262-263).

``orderBy().limit(k)`` compiles to Catalyst's TakeOrderedAndProject:
each partition keeps a k-sized heap, only k rows per partition reach the
driver-side merge — no global sort, which is the correct physical shape
at any scale.  Grouped top-k uses a rank window, which shuffles once on
the group key.  The global and per-group prefix scans (row number,
running sum, running max) share one range-slice helper, ``_prefix_scan``.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql.types import DataType


def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k. Callers must include a unique tiebreak column for
    deterministic results."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame, group_by: Sequence[str], order_by: Sequence[Column], k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k within each group via row_number (deterministic with tiebreak)."""
    w = Window.partitionBy(*group_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def top_and_bottom(
    df: DataFrame, metric: str, tiebreak: str, k: int, side_col: str = "side"
) -> DataFrame:
    """Union of top-k and bottom-k (Reporting.py:262-263 head/tail shape)."""
    top = df.orderBy(F.col(metric).desc(), F.col(tiebreak)).limit(k).withColumn(
        side_col, F.lit("top")
    )
    bottom = df.orderBy(F.col(metric).asc(), F.col(tiebreak)).limit(k).withColumn(
        side_col, F.lit("bottom")
    )
    return top.unionAll(bottom)


def _prefix_scan(
    df: DataFrame,
    range_keys: Sequence[Column],
    num_partitions: int | None,
    slice_agg: Column,
    carry: Callable[[Any, Any], Any],
    start: Any = 0,
    group: Column | None = None,
    value_type: DataType | None = None,
) -> tuple[DataFrame, Column]:
    """The shared two-phase shape of the prefix scans below: a global
    (or per-group) scan WITHOUT a single-partition window, which would
    funnel every row through one task.

    Range-partition on ``range_keys`` (global order is preserved across
    slices), tag each row with its slice id ``_pid``, collect
    ``slice_agg`` per slice (per ``(group, slice)`` when ``group`` is
    given: one row per slice reaches the driver, never the data) and
    fold the collected values in slice order with ``carry`` from
    ``start``.  Each slice's offset is the carried value of all EARLIER
    slices of its group.  Returns the tagged frame and the offset
    column; the caller adds its local window over ``_pid``.

    The frame is localCheckpointed BEFORE spark_partition_id() is read:
    without the barrier a later consumer (a self-join, an
    AQE-re-coalesced branch) could re-evaluate the exchange with other
    partition ids than the offsets were measured on — a real wrong
    answer at sf0.1 when a ranked frame was joined twice in one plan.
    It is lazy: the offsets collect is its first consumer and
    materializes every partition, so an eager count() would be one
    extra full pass.

    The offset is an ``element_at(create_map(...))`` lookup, not a
    when/otherwise chain one level deep per slice (codegen/stack
    blowups at hundreds of slices, ADVICE r5).  A None offset (a
    running max before any non-NULL value) is left out of the map, so
    the lookup reads NULL; with no entries the offset is ``start``.
    Offsets are cast to ``value_type`` when given.  A ``group`` key is
    built from the SAME Spark string cast on the collected and the
    probe side — Python ``str(g)`` differs from Spark's cast for
    booleans, dates and floats, and ``concat_ws`` skips NULLs (ADVICE
    r5) — so ``group`` must be NULL-free.
    """
    part = (
        df.repartitionByRange(num_partitions, *range_keys)
        if num_partitions
        else df.repartitionByRange(*range_keys)
    )
    part = part.withColumn("_pid", F.spark_partition_id()).localCheckpoint(
        eager=False
    )
    by = [] if group is None else [group.alias("_gk")]
    rows = sorted(
        tuple(r) for r in part.groupBy(*by, F.col("_pid")).agg(slice_agg).collect()
    )

    def lit(v: Any) -> Column:
        return F.lit(v) if value_type is None else F.lit(v).cast(value_type)

    entries: list[Column] = []
    acc: dict[tuple, Any] = {}
    for *gk, pid, v in rows:
        before = acc.get(tuple(gk), start)
        if before is not None:
            key = (
                F.lit(pid)
                if group is None
                else F.concat_ws("|", F.lit(gk[0]), F.lit(str(pid)))
            )
            entries += [key, lit(before)]
        acc[tuple(gk)] = carry(before, v)
    if not entries:
        return part, lit(start)
    probe = (
        F.col("_pid")
        if group is None
        else F.concat_ws("|", group, F.col("_pid").cast("string"))
    )
    return part, F.element_at(F.create_map(*entries), probe)


def _rows_before(order_by: Sequence[Column], *partition_by: str) -> WindowSpec:
    """The rows strictly before each row of a slice: the local window of
    the exclusive scans."""
    return (
        Window.partitionBy(*partition_by, "_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )


def global_row_number(
    df: DataFrame,
    order_by: Sequence[Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based row_number WITHOUT a single-partition window
    (``_prefix_scan``): rank within each range slice, then shift each
    slice by the row count of all earlier slices.

    ``row_number().over(Window.orderBy(...))`` funnels every row
    through one task — fine for a 6-row report, fatal for a
    corpus-sized vocabulary.  Callers must make ``order_by`` a total
    order (include a tiebreak column) for deterministic ids.
    """
    part, off = _prefix_scan(
        df, order_by, num_partitions, F.count("*").alias("_n"),
        lambda acc, n: acc + n,
    )
    w = Window.partitionBy("_pid").orderBy(*order_by)
    return part.withColumn(out_col, F.row_number().over(w) + off).drop("_pid")


def top_k_per_group_scalable(
    df: DataFrame, group_by: Sequence[str], order_by: Sequence[Column], k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Exact per-group top-k WITHOUT funneling any group through one task.

    ``top_k_per_group`` partitions the window by the group key, so a
    group holding a large fraction of the data (20 anchors over a
    100 TB candidate set) sorts through a single task.  This is the
    two-phase shape: rank within (group, physical partition) first —
    every task sees only its own slice, survivors are bounded by
    k * num_partitions per group — then rank the survivors with the
    small per-group window.  Exact for any total-order ``order_by``
    (the global top-k of a group is contained in the union of its
    per-partition top-ks).
    """
    part = df.withColumn("_pid", F.spark_partition_id())
    w1 = Window.partitionBy(*(list(group_by) + ["_pid"])).orderBy(*order_by)
    survivors = (
        part.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1", "_pid")
    )
    w2 = Window.partitionBy(*group_by).orderBy(*order_by)
    return (
        survivors.withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
    )


def global_running_sum(
    df: DataFrame,
    order_by: Sequence[Column],
    val_col: str,
    out_col: str = "cum_before",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive global prefix sum WITHOUT a single-partition window
    (``_prefix_scan``): ``out_col`` = sum of ``val_col`` over all rows
    strictly before this row in ``order_by`` order (NULL values count
    as 0; the first row reads 0).

    Callers must make ``order_by`` a total order for deterministic
    prefix sums.  This is the scalable cumulative sum for manifest- and
    ledger-sized frames that can still reach millions of rows (file
    compaction planning, quota ledgers).
    """
    part, off = _prefix_scan(
        df, order_by, num_partitions, F.sum(val_col).alias("_s"),
        lambda acc, s: acc + (s or 0),
    )
    w = _rows_before(order_by)
    local = F.coalesce(F.sum(val_col).over(w), F.lit(0))
    return part.withColumn(out_col, local + off).drop("_pid")


def grouped_running_sum(
    df: DataFrame,
    group_by: str,
    order_by: Sequence[Column],
    val_col: str,
    out_col: str = "cum_before",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive PER-GROUP prefix sum without funneling any group
    through one task.

    ``sum().over(Window.partitionBy(group))`` hands each group to a
    single reducer — fatal when the group column is low-cardinality
    (5 languages over a corpus; the q271 window class).  The group key
    leads the range partitioning so slices never mix groups, and each
    (group, slice) is shifted by the total of EARLIER slices of the
    same group (``_prefix_scan`` with ``group``).

    Callers must make (group, order_by) a total order for
    deterministic prefix sums.  Group keys may be NULL (mapped to a
    sentinel internally); the group type's string cast must be
    injective over the values present (true for the string/int/date
    keys in use — not for e.g. binary).
    """
    gcol = F.col(group_by)
    gstr = F.coalesce(gcol.cast("string"), F.lit("\x00<NULL>"))
    part, off = _prefix_scan(
        df, [gcol.asc(), *order_by], num_partitions,
        F.sum(val_col).alias("_s"), lambda acc, s: acc + (s or 0),
        group=gstr,
    )
    w = _rows_before(order_by, group_by)
    local = F.coalesce(F.sum(val_col).over(w), F.lit(0))
    return part.withColumn(out_col, local + off).drop("_pid")


def global_running_max(
    df: DataFrame,
    order_by: Sequence[Column],
    val_col: str,
    out_col: str = "max_before",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive global prefix MAX without a single-partition window
    (the running-max sibling of global_running_sum; the primitive
    behind sort-based skyline/dominance scans).  ``out_col`` = max of
    ``val_col`` over all rows strictly before this row in ``order_by``
    order, NULL for the first row and while only NULLs came before.
    Each slice's local max is combined with the max of all earlier
    slices by ``F.greatest``, which ignores a NULL offset.

    Callers must make ``order_by`` a total order for determinism.
    """
    part, off = _prefix_scan(
        df, order_by, num_partitions, F.max(val_col).alias("_m"),
        lambda acc, m: m if m is not None and (acc is None or m > acc) else acc,
        start=None,
        value_type=df.schema[val_col].dataType,
    )
    w = _rows_before(order_by)
    local = F.max(val_col).over(w)
    return part.withColumn(out_col, F.greatest(local, off)).drop("_pid")
