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
as ``isNull() | predicate`` over their ``null_passing_cols``.  Any other
NULL verdict fails its rule: every row lands in exactly one of
``valid`` and ``invalid``, and ``_failed_rules`` names the rule.

Scale note: `split_valid` evaluates the rules once per row into a
cached, observed frame.  The first action over either side (the
loaders' first append) reads the input once, fills the cache and
yields the input/invalid counts; every later consumer (the other
appends, the quarantine write) reads the cache.  No separate counting
job runs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from operator import and_
from collections.abc import Sequence
from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation


@dataclass
class Rule:
    """A named validation predicate.  NULL in a ``null_passing_cols``
    column passes; any other NULL verdict fails the rule."""

    name: str
    predicate: Column
    null_passing_cols: Sequence[str] = field(default_factory=tuple)

    def as_column(self) -> Column:
        pred = self.predicate
        for c in self.null_passing_cols:
            pred = F.col(c).isNull() | pred
        return F.coalesce(pred, F.lit(False))


def non_negative(columns: Sequence[str]) -> list[Rule]:
    """One rule per metric column: NULL or >= 0 (load_hhs.py:104-127)."""
    return [
        Rule(name=f"{c}_non_negative", predicate=F.col(c) >= 0, null_passing_cols=(c,))
        for c in columns
    ]


def not_null(columns: Sequence[str]) -> list[Rule]:
    return [Rule(name=f"{c}_not_null", predicate=F.col(c).isNotNull()) for c in columns]


class Split(NamedTuple):
    """One batch split into ``valid`` and ``invalid`` rows.

    Both sides read ``flagged``, the cached input with each row's
    verdict; the caller unpersists it when done.  ``counts`` observes
    ``input_rows`` and ``invalid_rows`` on that frame: ``counts.get``
    returns them once the first action over either side has filled the
    cache, and blocks until then.
    """

    valid: DataFrame
    invalid: DataFrame
    flagged: DataFrame
    counts: Observation


def split_valid(df: DataFrame, rules: Sequence[Rule]) -> Split:
    """Split by the conjunction of all rules, evaluating it once per row.

    ``invalid`` carries a ``_failed_rules`` array naming each violated
    rule — richer than the reference's raw quarantine CSV while still
    containing the original row verbatim.
    """
    combined = reduce(and_, (r.as_column() for r in rules), F.lit(True))
    observation = Observation()
    flagged = (
        df.withColumn("_ok", combined)
        .observe(
            observation,
            F.count(F.lit(1)).alias("input_rows"),
            F.count_if(~F.col("_ok")).alias("invalid_rows"),
        )
        .cache()
    )
    failed = F.filter(
        F.array(*[F.when(~r.as_column(), F.lit(r.name)) for r in rules]),
        lambda x: x.isNotNull(),
    )
    valid = flagged.filter(F.col("_ok")).drop("_ok")
    invalid = flagged.filter(~F.col("_ok")).drop("_ok").withColumn(
        "_failed_rules", failed
    )
    return Split(valid, invalid, flagged, observation)
