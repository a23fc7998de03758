"""Readers for the driver-generated testdata tables (TESTDATA.md).

Every read declares its schema from ``schemas.TESTDATA_SCHEMAS``, so
building a frame never runs a schema-inference job; Catalyst still
prunes columns and pushes filters into the scan.

The date/time columns are stored as INT64 TIMESTAMP(MICROS,
isAdjustedToUTC=false) and read as TIMESTAMP_NTZ.  ``events.ts`` is
cast to TIMESTAMP (ltz) for its unix_micros / watermark consumers; with
the session time zone pinned to UTC (session.py) the cast keeps the
wall-clock value, exactly as DuckDB reads the column.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..schemas import TESTDATA_SCHEMAS
from ..session import ensure_compat

TESTDATA_TABLES = list(TESTDATA_SCHEMAS)


def read_testdata(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table as stored, read with its declared schema."""
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def events_ts_ltz(df: DataFrame) -> DataFrame:
    """Cast the stored TIMESTAMP_NTZ ``ts`` column to TIMESTAMP (ltz)."""
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; ``events.ts`` arrives as TIMESTAMP."""
    ensure_compat(spark)
    df = read_testdata(spark, sf_dir, name)
    return events_ts_ltz(df) if name == "events" else df


def load_events_range(
    spark: SparkSession,
    sf_dir: str,
    lo: str | None = None,
    hi: str | None = None,
    lo_inclusive: bool = True,
    hi_inclusive: bool = False,
) -> DataFrame:
    """Events scan with the time-range predicate applied to the STORED
    TIMESTAMP_NTZ column, *before* the ltz cast.

    A filter written against the cast column cannot reach the parquet
    scan (only IsNotNull pushes — SCALE.md §2's known wart).  Filtering
    the stored column keeps row-group statistics skipping and (at
    100 TB) partition pruning; with the session time zone at UTC the
    cast is the identity on wall-clock values, so the rows are the same.
    """
    ensure_compat(spark)
    ts = F.col("ts")
    bound = lambda v: F.lit(v).cast("timestamp_ntz")  # noqa: E731
    raw = read_testdata(spark, sf_dir, "events")
    if lo is not None:
        raw = raw.filter(ts >= bound(lo) if lo_inclusive else ts > bound(lo))
    if hi is not None:
        raw = raw.filter(ts <= bound(hi) if hi_inclusive else ts < bound(hi))
    return events_ts_ltz(raw)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views for spark.sql use."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
