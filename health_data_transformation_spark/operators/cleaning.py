"""Cleaning / normalization operators (SURVEY.md §2.2, P1-P8, P13).

Replaces the reference's pandas mutations with lazy SQL projections,
each rendered as SQL text and applied in one ``selectExpr``
(``functions/sqltext.py``: no per-column ``Column`` objects, which
cost several JVM calls each at build time):
- sentinel -> NULL            (/root/reference/load_hhs.py:49)
- NaN -> NULL                 (/root/reference/load_hhs.py:50 — automatic in Spark)
- value maps                  (/root/reference/load_quality.py:103,105)
- lenient numeric cast        (/root/reference/load_hhs.py:52 — Spark cast == coerce)
- date parse                  (/root/reference/load_hhs.py:53)
- header normalization        (/root/reference/load_quality.py:102)
- literal column stamp        (/root/reference/load_quality.py:106-107)

At scale these are all narrow (no shuffle) and fuse into the scan's
whole-stage-codegen span.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.sqltext import ident, literal, with_columns


def normalize_headers(df: DataFrame) -> DataFrame:
    """lowercase + spaces->underscores on every column name."""
    return df.toDF(*[c.lower().replace(" ", "_") for c in df.columns])


def replace_sentinel(df: DataFrame, columns: Sequence[str], sentinel: float) -> DataFrame:
    """Map a numeric 'suppressed' sentinel (e.g. -999999) to NULL."""
    return with_columns(
        df, {c: f"nullif({ident(c)}, {literal(sentinel)})" for c in columns}
    )


def map_values(df: DataFrame, column: str, mapping: Mapping[str, object], otherwise: str = "keep") -> DataFrame:
    """CASE-WHEN value remap ('Yes'->True, 'Not Available'->0, ...).

    otherwise: 'keep' passes unmapped values through; 'null' nulls them.
    """
    if not mapping:
        return df
    c = ident(column)
    whens = " ".join(
        f"WHEN {c} = {literal(src)} THEN {literal(dst)}" for src, dst in mapping.items()
    )
    rest = c if otherwise == "keep" else "NULL"
    return with_columns(df, {column: f"CASE {whens} ELSE {rest} END"})


def cast_columns(df: DataFrame, casts: Mapping[str, str]) -> DataFrame:
    """Lenient cast: NULL on malformed input, like
    pd.to_numeric(errors='coerce').  Must be try_cast — under Spark 4's
    default ANSI mode a plain cast *throws* on bad input."""
    return with_columns(df, {c: f"try_cast({ident(c)} AS {t})" for c, t in casts.items()})


def parse_dates(df: DataFrame, columns: Sequence[str], fmt: str = "yyyy-MM-dd") -> DataFrame:
    return with_columns(df, {c: f"to_date({ident(c)}, {literal(fmt)})" for c in columns})


def parse_point(df: DataFrame, column: str, out_col: str = "geo") -> DataFrame:
    """Parse a WKT ``POINT (lon lat)`` string into
    struct<lon:double, lat:double> (null on malformed input).

    The reference stores `geocoded_hospital_address` as an opaque
    VARCHAR(50) (design_table_schema.ipynb cell 1) and never parses it;
    typed lon/lat enables distance predicates and geo bucketing
    (SURVEY.md §7.4 extension).
    """
    lon = F.regexp_extract(F.col(column), r"POINT \((-?[\d.]+) (-?[\d.]+)\)", 1)
    lat = F.regexp_extract(F.col(column), r"POINT \((-?[\d.]+) (-?[\d.]+)\)", 2)
    return df.withColumn(
        out_col,
        F.when(
            (lon != "") & (lat != ""),
            F.struct(
                lon.cast("double").alias("lon"), lat.cast("double").alias("lat")
            ),
        ),
    )


def stamp_literal(df: DataFrame, column: str, value, dtype: str | None = None) -> DataFrame:
    value = literal(value)
    return with_columns(df, {column: f"CAST({value} AS {dtype})" if dtype else value})
