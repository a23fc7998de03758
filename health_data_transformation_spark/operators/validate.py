"""Validation / quarantine operators (SURVEY.md §1.3, §2.2 P9-P11, S6).

The reference enforces constraints in three places (DDL, per-row Python
checks at /root/reference/load_hhs.py:104-127, and DB-error fallback).
Spark has no enforced constraints, so this module unifies them into one
declarative layer: a batch splits into (valid, invalid) DataFrames by a
composed predicate, and the invalid side is quarantined — the same
pattern the reference implements imperatively by collecting
``invalid_row_ind`` and re-writing those rows
(/root/reference/load_hhs.py:152-155).

NULL semantics follow the reference: NULL *passes* a bound check (the
``pd.isna`` short-circuit at load_hhs.py:104), so bounds are expressed
as ``isNull() | predicate``.

Scale note: `split_valid` is one scan evaluated lazily per consumer;
`split_valid_cached` is the loaders' path — a single cached
materialization feeds the valid/invalid splits AND the load-report
counts, so the input is read exactly once.  Predicates are codegen'd
and pushed down.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from operator import and_
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


@dataclass
class Rule:
    """A named validation predicate; NULL-passing by default."""

    name: str
    predicate: Column
    null_passing_cols: Sequence[str] = field(default_factory=tuple)

    def as_column(self) -> Column:
        pred = self.predicate
        for c in self.null_passing_cols:
            pred = F.col(c).isNull() | pred
        return pred


def non_negative(columns: Sequence[str]) -> list[Rule]:
    """One rule per metric column: NULL or >= 0 (load_hhs.py:104-127)."""
    return [
        Rule(name=f"{c}_non_negative", predicate=F.col(c) >= 0, null_passing_cols=(c,))
        for c in columns
    ]


def not_null(columns: Sequence[str]) -> list[Rule]:
    return [Rule(name=f"{c}_not_null", predicate=F.col(c).isNotNull()) for c in columns]


def split_valid(df: DataFrame, rules: Sequence[Rule]) -> tuple[DataFrame, DataFrame]:
    """Split into (valid, invalid) by the conjunction of all rules.

    ``invalid`` carries a ``_failed_rules`` array naming each violated
    rule — richer than the reference's raw quarantine CSV while still
    containing the original row verbatim.
    """
    if not rules:
        return df, df.limit(0).withColumn("_failed_rules", F.array().cast("array<string>"))
    combined = reduce(and_, (r.as_column() for r in rules))
    failed = F.filter(
        F.array(*[F.when(~r.as_column(), F.lit(r.name)) for r in rules]),
        lambda x: x.isNotNull(),
    )
    valid = df.filter(combined)
    invalid = df.filter(~combined).withColumn("_failed_rules", failed)
    return valid, invalid


def split_valid_cached(
    df: DataFrame, rules: Sequence[Rule]
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """``split_valid`` with single-materialization economics.

    Marks each row with the combined predicate, caches the *flagged*
    frame, and computes (input_rows, invalid_rows) with one aggregate
    over that cache — so the input is scanned exactly ONCE regardless
    of how many consumers follow (the three per-table appends, the
    quarantine write, and the counts all read the same materialized
    copy).  The previous pattern (`raw.count()` + `invalid.count()` +
    the valid-side cache fill) cost three input scans per load — the
    difference between 1x and 3x the ingest bytes at 100 TB.

    Returns (valid, invalid, flagged, counts); the caller unpersists
    ``flagged`` when done.
    """
    if not rules:
        valid, invalid = split_valid(df, rules)
        flagged = df.cache()
        return valid, invalid, flagged, {
            "input_rows": flagged.count(), "invalid_rows": 0,
        }
    combined = reduce(and_, (r.as_column() for r in rules))
    flagged = df.withColumn("_ok", combined).cache()
    failed = F.filter(
        F.array(*[F.when(~r.as_column(), F.lit(r.name)) for r in rules]),
        lambda x: x.isNotNull(),
    )
    valid = flagged.filter(F.col("_ok")).drop("_ok")
    invalid = flagged.filter(~F.col("_ok")).drop("_ok").withColumn(
        "_failed_rules", failed
    )
    counts_row = flagged.agg(
        F.count(F.lit(1)).alias("input_rows"),
        F.sum(F.when(~F.col("_ok"), 1).otherwise(0)).alias("invalid_rows"),
    ).first()
    counts = {
        "input_rows": int(counts_row["input_rows"]),
        "invalid_rows": int(counts_row["invalid_rows"] or 0),
    }
    return valid, invalid, flagged, counts
