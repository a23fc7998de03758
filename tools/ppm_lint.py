"""Static lint: Spark-side integer *1e6-class multiplies must route
through DECIMAL(38,0) (or double) — the BIGINT x 1_000_000 overflow
class has recurred three times (q149 Gini, q166 OOV ppm, q249 ABC
cents) and was each time caught late by stress runs or the advisor.

Why this split: DuckDB silently promotes integer arithmetic to int128,
so ORACLE-side `sum(x) * 1000000` is safe by construction; Spark wraps
(or ANSI-errors) at int64.  The lint therefore exempts "oracle zones"
and applies the rule everywhere else:

- oracle zones: the 2nd positional argument of every `register(...)`
  call (the DuckDB oracle string), any `_qNNN_oracle` helper function,
  and any function whose name ends in `_sql` (DuckDB-dialect string
  builders like int8_quantize_sql);
- Spark zones (everything else): a line multiplying by an integer
  literal >= 100_000 must contain `DECIMAL(38` or an explicit double
  cast on the same line, or be allowlisted here with a reason.

The allowlist is (relpath, stripped-line) -> reason; a reason must say
why the left operand is BOUNDED (so the product provably fits int64 at
the 100 TB design point) — "it passed the oracle at sf0.01" is not a
reason, that is exactly how the three prior bugs shipped.

Usage: python tools/ppm_lint.py   (exit 0 clean, 1 on findings)
"""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCAN_DIRS = ["health_data_transformation_spark", "tools"]
SCAN_FILES = ["__spark_entry__.py", "bench.py"]

# integer multiply by >=1e5 (either operand order); excludes floats
# (1000000.0 / 1e6) and the 1000000007 hash modulus via lookahead
_LIT = r"1_?(?:0_?){5,}(?!_?\d|\s*\.\s*\d|\.\d)"
MULT = re.compile(
    rf"(?:\*\s*{_LIT})|(?:{_LIT}\s*\*)"
)
SAFE_ON_LINE = re.compile(
    r"DECIMAL\s*\(\s*38|decimal\s*\(\s*38"
    r"|cast\(\"double\"\)|cast\('double'\)|AS DOUBLE|as double"
    r"|/\s*1e6|\*\s*1e-"
)

# (relpath, stripped line) -> why the product provably fits int64
ALLOWLIST: dict[tuple[str, str], str] = {
    (
        "tools/skew_stress.py",
        'CAST(sum(floor(cos_sim * 1000000 + 0.5)) AS BIGINT)',
    ): "DuckDB oracle side: sum over INTEGER operands promotes to "
       "HUGEINT (int128) internally, and the §8.10 max_block cap "
       "bounds per-label pairs to C(5000,2) so |sum| <= 1.25e13 — the "
       "CAST back to BIGINT is exact; the Spark twin routes the same "
       "sum through DECIMAL(38,0) per the q149/q317 rule",
    (
        "health_data_transformation_spark/operators/sessions.py",
        "gap_us = gap_minutes * 60 * 1_000_000",
    ): "driver-side Python int on a config scalar (minutes), not data",
    (
        "health_data_transformation_spark/operators/rangejoin.py",
        "F.unix_micros(F.col(right_ts)) >= F.unix_micros(F.col(left_ts)) + lo * 1_000_000",
    ): "lo/hi are config window seconds (Python ints, bounded ~1e5); "
       "unix_micros of any representable timestamp + 1e11 fits int64",
    (
        "health_data_transformation_spark/operators/rangejoin.py",
        ") & (F.unix_micros(F.col(right_ts)) < F.unix_micros(F.col(left_ts)) + hi * 1_000_000)",
    ): "same bound as lo above",
    (
        "health_data_transformation_spark/multimodal.py",
        "mean = ((sum(payload) * 1_000_000) // n) / 1e6 if n else 0.0",
    ): "Python-int arithmetic (arbitrary precision) inside the oracle "
       "recompute helper, not a Spark expression",
    (
        "health_data_transformation_spark/sources/tables.py",
        "return calendar.timegm(datetime.strptime(value, fmt).timetuple()) * 1_000_000",
    ): "Python int epoch-seconds (~2e9) * 1e6 = ~2e15, fits int64",
}


def oracle_zones(
    path: Path, tree: ast.Module
) -> tuple[list[tuple[int, int]], list[tuple[int, int]]]:
    """(sql_zones, doc_zones): spans holding DuckDB-dialect SQL, and
    spans holding register()'s doc-prose argument (mentions `div` in
    prose, never executes)."""
    zones: list[tuple[int, int]] = []
    doc_spans: list[tuple[int, int]] = []

    class V(ast.NodeVisitor):
        def visit_Call(self, node: ast.Call) -> None:
            fn = node.func
            name = getattr(fn, "id", getattr(fn, "attr", ""))
            if name == "register" and len(node.args) >= 2:
                a = node.args[1]
                zones.append((a.lineno, a.end_lineno or a.lineno))
                if len(node.args) >= 3:  # doc prose: not code
                    d = node.args[2]
                    doc_spans.append((d.lineno, d.end_lineno or d.lineno))
            self.generic_visit(node)

        def visit_FunctionDef(self, node: ast.FunctionDef) -> None:
            if node.name.endswith("_sql") or re.fullmatch(
                r"_q\w*_oracle\w*", node.name
            ):
                zones.append((node.lineno, node.end_lineno or node.lineno))
            self.generic_visit(node)

        def visit_Assign(self, node: ast.Assign) -> None:
            # module-level oracle fragments by convention: X_SQL = "..."
            names = [getattr(t, "id", "") for t in node.targets]
            if any(n.endswith("_SQL") for n in names):
                zones.append((node.lineno, node.end_lineno or node.lineno))
            self.generic_visit(node)

    V().visit(tree)
    return zones, doc_spans


def in_zone(lineno: int, zones: list[tuple[int, int]]) -> bool:
    return any(lo <= lineno <= hi for lo, hi in zones)


def lint_file(path: Path) -> list[str]:
    rel = str(path.relative_to(ROOT))
    src = path.read_text()
    try:
        tree = ast.parse(src)
    except SyntaxError as exc:  # lint must not mask a broken file
        return [f"{rel}: unparseable ({exc})"]
    zones, doc_zones = oracle_zones(path, tree)
    findings = []
    lines = src.splitlines()
    for i, line in enumerate(lines, start=1):
        if not MULT.search(line):
            continue
        if line.lstrip().startswith("#"):
            continue  # prose
        if in_zone(i, zones):
            continue  # DuckDB side: int128 promotion makes this safe
        # look at the line plus two predecessors: a multi-line f-string
        # or chained expression often carries its DECIMAL cast one
        # physical line above the `* 1000000`
        window = "\n".join(lines[max(0, i - 3): i])
        if SAFE_ON_LINE.search(window):
            continue
        if re.search(r"#\s*ppm-ok:\s*\S", line):
            continue  # inline-justified bounded operand
        key = (rel, line.strip())
        if key in ALLOWLIST:
            continue
        findings.append(
            f"{rel}:{i}: Spark-side integer multiply by >=1e5 without "
            f"DECIMAL(38,..) routing: {line.strip()!r}"
        )
    findings.extend(lint_decimal_div(rel, lines, zones, doc_zones))
    return findings


# Rule 2 (ADVICE r4, high — the q271 wrap): Spark's `a div b` is
# IntegralDivide and ALWAYS returns BIGINT, silently wrapping modulo
# 2^64 when the true quotient exceeds int64 — even when both operands
# are DECIMAL(38,0).  So routing a numerator through DECIMAL(38,0)
# (rule 1's fix) is NOT sufficient if the result then flows through
# `div`: the quotient itself must be provably bounded, or the division
# must stay in decimal via the exact (v - v % d) / d identity.  Flag
# any Spark-zone `div` whose 4-line operand window mentions a
# DECIMAL(38 cast, unless the line carries `# div-ok: <why the
# quotient fits int64 at 100 TB>`.
DIV = re.compile(r"\bdiv\b")
DECIMAL38 = re.compile(r"DECIMAL\s*\(\s*38|decimal\s*\(\s*38")


def lint_decimal_div(
    rel: str,
    lines: list[str],
    zones: list[tuple[int, int]],
    doc_zones: list[tuple[int, int]],
) -> list[str]:
    findings = []
    for i, line in enumerate(lines, start=1):
        if not DIV.search(line):
            continue
        stripped = line.lstrip()
        if stripped.startswith("#"):
            continue  # prose
        if in_zone(i, zones):
            continue  # DuckDB `//` stays int128-exact
        if in_zone(i, doc_zones):
            continue  # register() doc prose, never executes
        window = "\n".join(lines[max(0, i - 4): i + 1])
        if not DECIMAL38.search(window):
            continue  # pure-integer div: rule 1 already owns overflow
        if re.search(r"#\s*div-ok:\s*\S", window):
            continue
        findings.append(
            f"{rel}:{i}: `div` on a DECIMAL(38,..) operand returns "
            f"BIGINT and wraps past int64 — bound the quotient "
            f"(# div-ok: ...) or use the exact (v - v %% d) / d "
            f"decimal identity: {line.strip()!r}"
        )
    return findings


def main() -> int:
    findings: list[str] = []
    files: list[Path] = []
    for d in SCAN_DIRS:
        files.extend(sorted((ROOT / d).rglob("*.py")))
    files.extend(ROOT / f for f in SCAN_FILES)
    for p in files:
        if p.name == "ppm_lint.py":
            continue
        findings.extend(lint_file(p))
    stale = [
        k for k in ALLOWLIST
        if k[1] not in (ROOT / k[0]).read_text()
    ]
    for k in stale:
        findings.append(f"stale allowlist entry (line no longer present): {k}")
    if findings:
        print(f"PPM-LINT: {len(findings)} finding(s)")
        for f in findings:
            print(" ", f)
        return 1
    print(f"PPM-LINT: clean ({len(files)} files)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
