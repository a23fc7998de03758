"""Structured Streaming surface (SURVEY.md §2.5, §7.1 step 6).

The reference's ingest is manual per-file CLI (README.md:26-46); its
natural Spark mapping is a file-source stream with
``Trigger.AvailableNow`` — process everything currently present as one
bounded run, exactly the reference's batch cadence but restartable and
incremental via checkpoint.

``stream_window_counts`` is the driver-facing demonstration: parquet
file source -> event-time tumbling windows -> memory sink.  Its result
is deterministically equal to the batch GROUP BY (the oracle), proving
the streaming plan computes the same aggregation.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.deterministic import bucket_str, dec_sum
from ..schemas import TESTDATA_SCHEMAS
from ..session import ensure_compat
from ..sources.tables import events_ts_ltz
from .bounded import BoundedStream


def staged_events_stream(run: BoundedStream, sf_dir: str, sub: str = "") -> DataFrame:
    """The testdata events file as a parquet file-source stream with
    ``ts`` as TIMESTAMP (watermarks need ltz, see sources.tables).

    The file source requires a *directory*, and the testdata is
    read-only, so a symlink to the file is staged in ``run``'s staging
    dir (under ``sub``).
    """
    run.link(f"{sf_dir}/events.parquet", os.path.join(sub, "events.parquet"))
    return events_ts_ltz(run.source(TESTDATA_SCHEMAS["events"], sub))


def stream_window_counts(
    spark: SparkSession, sf_dir: str, minutes: int = 15, timeout_sec: int = 300
) -> DataFrame:
    """events parquet as a *stream* -> 15-min tumbling counts/sums.

    Complete-mode memory sink: fine for a bounded AvailableNow run with
    a small aggregate state (one row per window).  Production sinks
    would be parquet/Delta with append mode + watermark.
    """
    ensure_compat(spark)
    run = BoundedStream(spark, "events")
    stream = staged_events_stream(run, sf_dir)

    agg = stream.groupBy(bucket_str("ts", minutes).alias("window_start")).agg(
        F.count("*").alias("n_events"),
        dec_sum("value", 2).alias("total_value"),
    )
    return run.to_memory(agg, "complete", timeout_sec)


def stream_session_windows(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 15, timeout_sec: int = 300
) -> DataFrame:
    """events parquet as a stream -> built-in ``session_window`` (dynamic
    event-time windows that merge while events arrive within the gap).

    The streaming twin of the batch sessionization operator
    (operators/sessions.py, q46): same gap semantics (an event exactly
    ``gap`` after the last starts a new session), state = one interval
    per open session per key, merged incrementally.
    """
    ensure_compat(spark)
    run = BoundedStream(spark, "sessions")
    stream = staged_events_stream(run, sf_dir)

    agg = (
        stream.groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    return run.to_memory(agg, "complete", timeout_sec)


def stream_stream_join(
    spark: SparkSession, sf_dir: str, window_s: int = 1800, timeout_sec: int = 300
) -> DataFrame:
    """Stream-stream interval join: purchases joined to the same user's
    clicks in the preceding ``window_s`` seconds, both sides watermarked.

    The watermark + the time-bound join condition let Spark EVICT join
    state (a click older than purchase-watermark - window can never
    match again) — without them, stream-stream join state grows without
    bound.  Batch twin: operators/rangejoin.py (same predicate).
    """
    ensure_compat(spark)
    run = BoundedStream(spark, "ssj")
    purchases = (
        staged_events_stream(run, sf_dir, "purchases")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        staged_events_stream(run, sf_dir, "clicks")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window_s} SECONDS"))
        & (F.col("c_ts") < F.col("p_ts")),
        "inner",
    ).select("purchase_id", "user_id", "click_id")
    return run.to_memory(joined, "append", timeout_sec)


def stream_dedup_ingest(
    spark: SparkSession,
    source_dir: str,
    schema,
    keys: list[str],
    event_time_col: str,
    watermark: str = "7 days",
) -> DataFrame:
    """Streaming exactly-once-per-key ingest plan (D4 as a stream).

    ``dropDuplicatesWithinWatermark`` bounds the dedup state: a key
    re-delivered within the watermark is dropped, state older than the
    watermark is evicted — the streaming form of the reference's
    duplicate probe (load_hhs.py:8-32) with O(keys-in-window) state
    instead of O(all-history).
    """
    stream = spark.readStream.schema(schema).option("header", True).csv(source_dir)
    return stream.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_dedup_events(
    spark: SparkSession, sf_dir: str, watermark: str = "7 days", timeout_sec: int = 300
) -> DataFrame:
    """Re-delivered events deduped exactly-once-per-key in flight.

    The staging dir holds TWO copies of the events file consumed as two
    microbatches (maxFilesPerTrigger=1): batch 1 passes through,
    batch 2 is eliminated by ``dropDuplicatesWithinWatermark`` state
    (or as late data behind the advanced watermark — either way the
    duplicate never lands).  The surviving rows equal the batch
    distinct-by-key table, which is the oracle; state is
    O(keys within watermark), not O(history).
    """
    ensure_compat(spark)
    run = BoundedStream(spark, "dedup")
    for name in ("copy1.parquet", "copy2.parquet"):
        run.link(f"{sf_dir}/events.parquet", name)
    stream = events_ts_ltz(run.source(TESTDATA_SCHEMAS["events"], max_files=1))
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return run.to_memory(deduped, "append", timeout_sec)


def stream_late_data_drop(
    spark: SparkSession,
    sf_dir: str,
    day: str = "2024-01-10",
    timeout_sec: int = 300,
) -> DataFrame:
    """Watermark late-data differential: append-mode hourly counts
    where a final microbatch of late rows targets windows the watermark
    already CLOSED — every one of them must be dropped.

    Measured semantics of the microbatch engine (and what this stages):
    a late row is dropped iff its window was evicted in a PRIOR batch;
    a row merely below the watermark whose window is still in state
    merges normally.  So the guarantee needs three arrivals:

    - arrival 1: the day's 00-06 rows PLUS the 23:00 hour (the
      watermark advancer) — fills state, watermark still at epoch;
    - arrival 2: the 12:00-14:00 rows (may be empty at tiny SFs; the
      batch itself is what matters).  It runs with watermark ~21:xx
      (advancer - 2 h), which closes and emits every window ending
      before ~21:00: the 00-06 set and arrival 2's own 12-14 windows;
    - arrival 3: copies of the 06-12 rows time-shifted into 00-06 —
      every target window is now evicted, so ALL of them drop
      (numRowsDroppedByWatermark > 0), emitting nothing.

    Final output = on-time hourly counts for 00-06 and 12-14 only; the
    23:00 window never closes and is withheld.  The oracle states
    exactly that, so admitted-late rows (duplicate or inflated
    windows), missing emissions, or a leaked open window all
    hash-mismatch.  Margins are data-independent: every asserted
    window end is hours below the advancer-derived watermark,
    regardless of scale factor.

    At 100 TB this is the mechanism that BOUNDS streaming state: the
    watermark evicts windows older than the lateness SLA, keeping
    state O(windows in SLA), not O(history).
    """
    ensure_compat(spark)
    import time as _time

    from ..sources.tables import load_events_range

    nxt = f"{day[:8]}{int(day[8:]) + 1:02d}"
    ev = load_events_range(spark, sf_dir, lo=day, hi=nxt).select(
        "event_id", "ts", "user_id"
    )
    hour = F.hour("ts")
    arrival1 = ev.filter((hour < 6) | (hour == 23))
    arrival2 = ev.filter((hour >= 12) & (hour < 14))
    arrival3 = (
        ev.filter((hour >= 6) & (hour < 12))
        .withColumn("ts", F.col("ts") - F.expr("INTERVAL 6 HOURS"))
    )

    run = BoundedStream(spark, "late")
    now = _time.time()
    run.stage_file(arrival1, "arrival1.parquet", now - 240)
    run.stage_file(arrival2, "arrival2.parquet", now - 120)
    run.stage_file(arrival3, "arrival3.parquet", now)

    agg = (
        run.source(arrival1.schema, max_files=1)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("user_id") % 1000003).alias("user_mod_sum"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("user_mod_sum").cast("long").alias("user_mod_sum"),
        )
    )
    return run.to_parquet(agg, timeout_sec)
