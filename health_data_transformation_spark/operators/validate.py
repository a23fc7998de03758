"""Validation / quarantine operators (SURVEY.md §1.3, §2.2 P9-P11, S6).

The reference enforces constraints in three places (DDL, per-row Python
checks at /root/reference/load_hhs.py:104-127, and DB-error fallback).
Spark has no enforced constraints, so this module unifies them into one
declarative layer: a batch splits into (valid, invalid) DataFrames by a
composed predicate, and the invalid side is quarantined — the same
pattern the reference implements imperatively by collecting
``invalid_row_ind`` and re-writing those rows
(/root/reference/load_hhs.py:152-155).

Rules are SQL text, and a split is built from two ``selectExpr``s (one
adds ``_ok``, one adds ``_failed_rules``), not from per-rule ``Column``
objects.  NULL semantics follow the reference: NULL *passes* a bound
check (the ``pd.isna`` short-circuit at load_hhs.py:104), so a rule's
verdict is written as ``coalesce(c IS NULL OR (<predicate>), false)``
over its ``null_passing_cols``.  Any other NULL verdict fails its rule:
every row lands in exactly one of ``valid`` and ``invalid``, and
``_failed_rules`` names the rule.  A predicate that names a missing
column raises when the split is built.

Scale note: `split_valid` evaluates the rules once per row into a
cached, observed frame.  The first action over either side (the
loaders' first append) reads the input once, fills the cache and
yields the input/invalid counts; every later consumer (the other
appends, the quarantine write) reads the cache.  No separate counting
job runs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Sequence
from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

from ..functions.sqltext import ident, literal


@dataclass
class Rule:
    """A named validation predicate in SQL text (``"`v` >= 0"``).  NULL
    in a ``null_passing_cols`` column passes; any other NULL verdict
    fails the rule."""

    name: str
    predicate: str
    null_passing_cols: Sequence[str] = field(default_factory=tuple)

    def verdict(self) -> str:
        """The rule's verdict per row as SQL text: true or false, never
        NULL."""
        passing = "".join(f"{ident(c)} IS NULL OR " for c in self.null_passing_cols)
        return f"coalesce({passing}({self.predicate}), false)"


def non_negative(columns: Sequence[str]) -> list[Rule]:
    """One rule per metric column: NULL or >= 0 (load_hhs.py:104-127)."""
    return [
        Rule(name=f"{c}_non_negative", predicate=f"{ident(c)} >= 0", null_passing_cols=(c,))
        for c in columns
    ]


def not_null(columns: Sequence[str]) -> list[Rule]:
    return [Rule(name=f"{c}_not_null", predicate=f"{ident(c)} IS NOT NULL") for c in columns]


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
    verdicts = [r.verdict() for r in rules]
    observation = Observation()
    flagged = (
        df.selectExpr("*", f"{' AND '.join(verdicts) or 'true'} AS _ok")
        .observe(
            observation,
            F.expr("count(1) AS input_rows"),
            F.expr("count_if(NOT _ok) AS invalid_rows"),
        )
        .cache()
    )
    failed = ", ".join(
        f"CASE WHEN NOT {v} THEN {literal(r.name)} END" for r, v in zip(rules, verdicts)
    )
    valid = flagged.filter("_ok").drop("_ok")
    invalid = flagged.filter("NOT _ok").selectExpr(
        *[ident(c) for c in df.columns],
        f"filter(array({failed}), x -> x IS NOT NULL) AS _failed_rules",
    )
    return Split(valid, invalid, flagged, observation)
