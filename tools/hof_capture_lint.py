"""HOF lambda-capture lint (VERDICT r5 task #5).

A lambda passed to a higher-order column function (``F.transform`` /
``F.filter`` / ``F.zip_with`` / ``F.aggregate`` / ``F.reduce`` /
``F.exists`` / ``F.forall``) inlines every captured Column EXPRESSION
into the lambda body, so Catalyst re-evaluates it PER ELEMENT — the
q275 bug (a captured ``regexp_replace`` chain made char-ngram
extraction O(len^2), 14x once hoisted) and the ``int8_quantize`` bug
(captured scale embedded an ``array_max`` pass, 6x at d=64).  Cheap
captures (``F.lit``, ``F.col``, casts of plain columns) are fine; the
fix for expensive ones is hoisting through ``array_repeat`` (see
``functions/vector.py:int8_quantize``) or precomputing a column.

Two rules, both AST-level over the non-test source tree:

  R1 captured-expression: a free variable of the lambda whose nearest
     preceding assignment RHS builds a Column via any ``F.<fn>`` call
     with fn outside the cheap set {lit, col}.
  R2 loop-invariant inline: an ``F.<fn>`` call subtree inside the
     lambda body that references NO lambda parameter and is not in the
     cheap set (it evaluates identically for every element).

Suppress a deliberate site with a ``# hof-ok: <reason>`` comment on
the line of the HOF call or the captured assignment.

Exit 1 on findings (round_gate gates on it).
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCAN = [
    ROOT / "health_data_transformation_spark",
    ROOT / "__spark_entry__.py",
]
HOFS = {"transform", "filter", "zip_with", "aggregate", "reduce", "exists", "forall"}
CHEAP = {"lit", "col"}


def f_calls(node: ast.AST) -> list[str]:
    """Names of F.<fn>(...) calls anywhere under node."""
    out = []
    for n in ast.walk(node):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "F"
        ):
            out.append(n.func.attr)
    return out


def lambda_params(lam: ast.Lambda) -> set[str]:
    a = lam.args
    return {x.arg for x in a.args + a.posonlyargs + a.kwonlyargs}


def free_names(lam: ast.Lambda) -> set[str]:
    """Name loads in the lambda body not bound by this or nested lambdas."""
    bound = set(lambda_params(lam))
    for n in ast.walk(lam.body):
        if isinstance(n, ast.Lambda):
            bound |= lambda_params(n)
    return {
        n.id
        for n in ast.walk(lam.body)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    } - bound - {"F"}


def subtree_free_refs(node: ast.AST) -> set[str]:
    """Name loads in the subtree minus params of lambdas WITHIN it
    (a nested lambda's own params don't make the subtree variant)."""
    bound: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Lambda):
            bound |= lambda_params(n)
    return {
        n.id
        for n in ast.walk(node)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    } - bound


def lint_file(path: Path) -> list[str]:
    src = path.read_text()
    lines = src.splitlines()
    ok_lines = {
        i + 1 for i, l in enumerate(lines) if "# hof-ok" in l
    }
    try:
        tree = ast.parse(src)
    except SyntaxError as e:
        return [f"{path}:{e.lineno}: unparseable: {e.msg}"]

    findings: list[str] = []

    # map: function scope -> {name: (lineno, rhs_node)} simple assigns
    class Scope(ast.NodeVisitor):
        def __init__(self):
            self.stack: list[dict[str, list[tuple[int, ast.AST]]]] = [{}]

        def visit_FunctionDef(self, node):
            self.stack.append({})
            self.generic_visit(node)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Assign(self, node):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    self.stack[-1].setdefault(t.id, []).append(
                        (node.lineno, node.value)
                    )
            self.generic_visit(node)

        def visit_Call(self, node):
            fn = node.func
            is_hof = (
                isinstance(fn, ast.Attribute)
                and fn.attr in HOFS
                and isinstance(fn.value, ast.Name)
                and fn.value.id == "F"
            )
            if is_hof and node.lineno not in ok_lines:
                lams = [
                    a for a in list(node.args) + [k.value for k in node.keywords]
                    if isinstance(a, ast.Lambda)
                ]
                for lam in lams:
                    params = lambda_params(lam)
                    # R1: captured expression-valued variables (transitive
                    # through cheap assignments — the int8_quantize scale
                    # was `F.lit(127.0) / m` with m the costly one)
                    for name in sorted(free_names(lam)):
                        hit = self.costly_chain(name, node.lineno, depth=3)
                        if hit and hit[0] not in ok_lines:
                            ln, via = hit
                            findings.append(
                                f"{path}:{node.lineno}: R1 lambda in "
                                f"F.{fn.attr} captures '{name}' "
                                f"(assigned :{ln} via F.{via}) — "
                                f"re-evaluated PER ELEMENT; hoist via "
                                f"array_repeat or a precomputed column"
                            )
                    # R2: loop-invariant expensive F-calls inline — an
                    # F.<fn> subtree whose free refs miss every lambda
                    # param evaluates identically for each element
                    for n in ast.walk(lam.body):
                        if (
                            isinstance(n, ast.Call)
                            and isinstance(n.func, ast.Attribute)
                            and isinstance(n.func.value, ast.Name)
                            and n.func.value.id == "F"
                            and n.func.attr not in CHEAP
                            and n.func.attr not in HOFS
                            and len(f_calls(n)) > 1  # has nested F-calls
                            and not (subtree_free_refs(n) & params)
                        ):
                            findings.append(
                                f"{path}:{node.lineno}: R2 lambda in "
                                f"F.{fn.attr} contains loop-invariant "
                                f"F.{n.func.attr}(...) (no lambda param "
                                f"referenced) — evaluates identically per "
                                f"element; hoist it"
                            )
            self.generic_visit(node)

        def costly_chain(
            self, name: str, before: int, depth: int
        ) -> tuple[int, str] | None:
            """Nearest assignment of ``name`` before ``before``; return
            (lineno, fname) if its RHS — transitively through up to
            ``depth`` cheap name references — builds via a costly F
            call."""
            if depth < 0:
                return None
            for scope in reversed(self.stack):
                cands = [
                    (ln, rhs) for ln, rhs in scope.get(name, []) if ln <= before
                ]
                if not cands:
                    continue
                ln, rhs = cands[-1]
                costly = [c for c in f_calls(rhs) if c not in CHEAP]
                if costly:
                    return (ln, costly[0])
                for ref in sorted(subtree_free_refs(rhs) - {"F"}):
                    sub = self.costly_chain(ref, ln, depth - 1)
                    if sub:
                        return (ln, sub[1])
                return None
            return None

    Scope().visit(tree)
    return findings


def main() -> int:
    files: list[Path] = []
    for s in SCAN:
        if s.is_file():
            files.append(s)
        else:
            files.extend(p for p in s.rglob("*.py"))
    all_findings: list[str] = []
    for p in sorted(files):
        all_findings.extend(lint_file(p))
    for f in all_findings:
        print(f)
    print(f"hof_capture_lint: {len(files)} files, {len(all_findings)} findings")
    return 1 if all_findings else 0


if __name__ == "__main__":
    sys.exit(main())
