"""Streaming sketch maintenance: a Count-Min sketch kept current by a
file-source stream, one merge per microbatch.

This is the production shape of the sketch family (operators/sketch.py):
at 100 TB you never rebuild a sketch from history — each arriving batch
builds its own constant-size (depth x width) cell grid and the stored
sketch is updated by per-cell counter ADDITION, which is exactly the
mergeability property `tests/test_sketch.py::test_cms_cells_are_mergeable`
pins down.  State is O(depth*width) forever, regardless of stream volume.

The driver-facing query (q92) proves the end-to-end identity: stream the
events table in multiple microbatches, merge per batch, probe the final
sketch — the result is bit-equal to the batch-built sketch, so the same
DuckDB oracle verifies the *streaming* path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.sketch import count_min_build
from ..session import ensure_compat
from ..sources.tables import read_testdata
from .bounded import BoundedStream


def stream_count_min_cells(
    spark: SparkSession,
    sf_dir: str,
    key_col: str = "user_id",
    width: int = 512,
    depth: int = 3,
    n_chunks: int = 3,
    timeout_sec: int = 300,
) -> DataFrame:
    """Stream events in ``n_chunks`` microbatches, maintaining merged
    Count-Min cells; returns the final (row, bucket, cnt) sketch.

    The input is re-staged as n_chunks files and consumed with
    ``maxFilesPerTrigger=1`` so the merge loop genuinely runs more than
    once.  Each batch: build cells for the batch, add to the stored
    grid, atomically publish a new version directory (same
    write-then-swap discipline as Warehouse.compact).
    """
    ensure_compat(spark)
    static = read_testdata(spark, sf_dir, "events").select(key_col)

    run = BoundedStream(spark, "cms")
    # split into n_chunks files so AvailableNow + maxFilesPerTrigger=1
    # yields a real multi-batch run
    static.repartition(n_chunks).write.parquet(run.stage)

    state: dict[str, DataFrame | None] = {"cells": None}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_cells = count_min_build(batch_df, key_col, width, depth)
        stored = state["cells"]
        if stored is None:
            merged = batch_cells
        else:
            merged = (
                stored.unionByName(batch_cells)
                .groupBy("row", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        out = run.out(f"cells_v{batch_id}")
        merged.write.mode("overwrite").parquet(out)
        state["cells"] = batch_df.sparkSession.read.parquet(out)

    run.run(
        run.source(static.schema, max_files=1)
        .writeStream.foreachBatch(merge_batch),
        timeout_sec,
        state_partitions=8,
    )
    assert state["cells"] is not None, "stream produced no batches"
    return state["cells"]
