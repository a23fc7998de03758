"""Typed CSV readers for the two ingest feeds (SURVEY.md §2.1 S1-S3).

Explicit schema + header, never inferSchema: the reference's
``pd.read_csv`` with inferred dtypes (load_hhs.py:46) is replaced by a
declared contract; real HHS/CMS files carry 100+ extra columns, which
are tolerated and dropped by selecting only the declared ones.

S3 (the raw re-scan for quarantine) is unnecessary in Spark: the raw
string frame is just the pre-normalization projection of the same scan,
kept lazily — no second file read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.sqltext import ident
from ..schemas import CMS_RAW_COLUMNS, HHS_RAW_SCHEMA


def read_hhs_csv(spark: SparkSession, path: str) -> DataFrame:
    """Weekly HHS CSV: declared columns only, metrics as double
    (Spark cast-to-null == pandas coerce), week still string."""
    return typed_hhs(
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def typed_hhs(df: DataFrame) -> DataFrame:
    """The declared HHS columns of a string-typed frame, in one
    selectExpr: extra columns are dropped, a missing one reads NULL,
    and try_cast coerces malformed numerics to NULL (ANSI-safe)."""
    present = set(df.columns)
    return df.selectExpr(*[
        f"try_cast({ident(f.name) if f.name in present else 'NULL'}"
        f" AS {f.dataType.simpleString()}) AS {ident(f.name)}"
        for f in HHS_RAW_SCHEMA.fields
    ])


def read_cms_csv(spark: SparkSession, path: str) -> DataFrame:
    """CMS quality CSV: the 5 used columns, all strings
    (load_quality.py:98-99 usecols + dtype=object)."""
    df = spark.read.option("header", True).csv(path)
    present = set(df.columns)
    return df.selectExpr(*[
        f"CAST({ident(c) if c in present else 'NULL'} AS STRING) AS {ident(c)}"
        for c in CMS_RAW_COLUMNS
    ])
