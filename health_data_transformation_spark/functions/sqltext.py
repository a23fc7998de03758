"""SQL text for DataFrame projections.

In PySpark 4 every ``F.col`` / ``F.when`` / ``Column`` operator records
its Python call site and costs several JVM calls (``F.col`` alone ~18
on a local session, a ``when``/``otherwise`` pair ~57), while one
``selectExpr`` costs a few calls plus one per expression.  Code that
builds a plan per input (the loaders run one per file drop) renders
its projections as SQL text with these helpers instead: names are
quoted as identifiers and values as literals, so no column name or
rule name can change what the text parses to.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame


def ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier (an embedded backtick
    doubled)."""
    return "`" + name.replace("`", "``") + "`"


def literal(value) -> str:
    """``value`` as a SQL literal of the type ``F.lit(value)`` gives it:
    None, bool, int (INT, or BIGINT past 32 bits), float (DOUBLE) or str
    (quotes and backslashes escaped)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return f"{value!r}D"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(value).__name__} {value!r}")


def with_columns(df: DataFrame, exprs: Mapping[str, str]) -> DataFrame:
    """``df.withColumns`` over SQL text, in one ``selectExpr``: each
    ``exprs`` column is replaced in place, or appended if ``df`` has no
    column of that name."""
    cols = df.columns
    return df.selectExpr(
        *[f"{exprs[c]} AS {ident(c)}" if c in exprs else ident(c) for c in cols],
        *[f"{e} AS {ident(c)}" for c, e in exprs.items() if c not in cols],
    )
