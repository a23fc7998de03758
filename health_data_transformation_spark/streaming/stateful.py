"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.5 extension; the Spark primitive for operators the
built-in windowed aggregations can't express).

Demonstrated operator: per-user running totals with explicit state.
The same skeleton carries any keyed accumulator (fraud scores, rate
limiters, session feature vectors): state is a tuple per key, updates
are Arrow-batched pandas, eviction is via GroupStateTimeout.

Determinism: the monetary column is pre-quantized to integer cents
JVM-side (decimal cast), so the Python-side sum is exact integer math —
order-insensitive and bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import ensure_compat
from .bounded import BoundedStream
from .windows import staged_events_stream

STATE_SCHEMA = "n LONG, total_cents LONG"
OUTPUT_SCHEMA = "user_id LONG, n LONG, total_cents LONG"


def stateful_user_totals(
    spark: SparkSession, sf_dir: str, timeout_sec: int = 300
) -> DataFrame:
    """events parquet as a stream -> per-user (count, exact total) held in
    explicit keyed state, emitted each trigger in update mode.

    With Trigger.AvailableNow the bounded run ends after the data is
    consumed, so the memory sink holds the final running total per user
    — equal to the batch GROUP BY by construction.
    """
    ensure_compat(spark)
    run = BoundedStream(spark, "stateful")
    stream = staged_events_stream(run, sf_dir)

    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    keyed = stream.select("user_id", cents.alias("cents")).groupBy("user_id")

    def update(key, batches: Iterator["pd.DataFrame"], state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0)
        for batch in batches:
            n += len(batch)
            total += int(batch["cents"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total_cents": [total]})

    out = keyed.applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    # each shuffle partition materializes a state-store instance; for a
    # bounded keyed-state run the per-store fixed cost dominates, so the
    # memory-sink run is narrow (key count here is small; a production
    # stream sizes this to keys x state-size / executor memory)
    return _last_emit(run.to_memory(out, "update", timeout_sec))


def _last_emit(memo: DataFrame) -> DataFrame:
    """Update mode appends one row per (key, trigger); keep the last
    emit per key (single AvailableNow trigger => already unique, but
    stay robust to multi-batch file splits)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        memo.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
