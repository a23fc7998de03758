"""Source-level guards over the package (no JVM): one runner for the
bounded streams, one owner for temp dirs, one place that narrows the
shuffle, one pass per loaded table.

- ``awaitTermination`` is called only in
  ``streaming.bounded.run_available_now``, which checks its result and
  always stops the query.
- ``tempfile`` is imported only by ``scratch``, so every temp dir lives
  under the per-process root that is removed at exit.
- ``spark.sql.shuffle.partitions`` is set at runtime only in
  ``streaming.bounded.narrow_shuffle``; ``partitionOverwriteMode`` is
  never set as a session conf (writers pass it as an option).
- Session confs are set or unset only by ``session.py`` and
  ``narrow_shuffle``: nothing else changes a session another caller
  may share.
- There is one validation split, and the loaders, the warehouse, the
  snapshot append/write path and the rollup refresh call no
  ``count()``: their row counts come from their writes.
- No tool or test names a fixed checkout path: each finds the repo
  from its own file, so run from another checkout it checks that one.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "health_data_transformation_spark"


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text())


def _enclosing_functions(tree: ast.AST) -> dict[ast.AST, str]:
    """node -> name of the innermost function that contains it."""
    owner: dict[ast.AST, str] = {}

    def visit(node: ast.AST, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            name = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else fn
            )
            owner[child] = name
            visit(child, name)

    visit(tree, "<module>")
    return owner


def _sites(predicate) -> list[tuple[str, str, int]]:
    """(module, enclosing function, line) of every node matching."""
    found = []
    for mod, tree in _modules():
        owner = _enclosing_functions(tree)
        for node in ast.walk(tree):
            if predicate(node):
                found.append((mod, owner.get(node, "<module>"), node.lineno))
    return found


def test_await_termination_only_in_the_runner():
    sites = _sites(
        lambda n: isinstance(n, ast.Attribute) and n.attr == "awaitTermination"
    )
    assert [(m, f) for m, f, _ in sites] == [
        ("streaming/bounded.py", "run_available_now")
    ], sites


def test_tempfile_only_in_the_scratch_helper():
    def imports_tempfile(n: ast.AST) -> bool:
        if isinstance(n, ast.Import):
            return any(a.name == "tempfile" for a in n.names)
        return isinstance(n, ast.ImportFrom) and n.module == "tempfile"

    sites = _sites(imports_tempfile)
    assert {m for m, _, _ in sites} == {"scratch.py"}, sites


def _conf_set_sites(key: str) -> list[tuple[str, str, int]]:
    """Sites that set the session conf ``key``: ``<x>.set(key, ...)``
    calls and SQL ``SET key`` strings."""

    def sets_key(n: ast.AST) -> bool:
        if not (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "set"
            and n.args
        ):
            return False
        arg = n.args[0]
        return isinstance(arg, ast.Constant) and arg.value == key

    def sql_sets_it(n: ast.AST) -> bool:
        return (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and f"SET {key.upper()}" in n.value.upper()
        )

    return _sites(sets_key) + _sites(sql_sets_it)


def test_shuffle_partitions_set_only_in_narrow_shuffle():
    sites = _conf_set_sites("spark.sql.shuffle.partitions")
    assert {(m, f) for m, f, _ in sites} == {
        ("streaming/bounded.py", "narrow_shuffle")
    }, sites


def test_partition_overwrite_mode_is_never_a_session_conf():
    """Writers pass ``partitionOverwriteMode`` as a per-write option."""
    assert _conf_set_sites("spark.sql.sources.partitionOverwriteMode") == []


def test_session_conf_changed_only_by_the_session_helpers():
    def changes_conf(n: ast.AST) -> bool:
        return (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in ("set", "unset")
            and isinstance(n.func.value, ast.Attribute)
            and n.func.value.attr == "conf"
        )

    sites = _sites(changes_conf)
    assert {
        (m, f) for m, f, _ in sites if m != "session.py"
    } == {("streaming/bounded.py", "narrow_shuffle")}, sites


def test_one_validation_split():
    def names_cached_split(n: ast.AST) -> bool:
        name = getattr(n, "name", None) or getattr(n, "attr", None)
        return (name or getattr(n, "id", None)) == "split_valid_cached"

    assert _sites(names_cached_split) == []


def test_loaders_run_no_count():
    """The loads' and the rollup's row counts come from their writes."""
    modules = {"ingest.py", "catalog.py", "operators/validate.py"}
    functions = {
        ("snapshots.py", "commit_append"),
        ("snapshots.py", "stage_append"),
        ("snapshots.py", "_write"),
        ("snapshots.py", "_write_data"),
        ("snapshots.py", "_write_data_partitioned"),
        ("operators/rollup.py", "refresh_rollup"),
    }
    sites = _sites(
        lambda n: isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "count"
        and not n.args  # DataFrame.count(), not F.count(col)
    )
    assert [s for s in sites if s[0] in modules or s[:2] in functions] == []


def test_tools_and_tests_find_their_own_checkout():
    """A fixed checkout path in a tool or test makes a run from any other
    checkout (a parent copy, an A/B worktree) import and check the fixed
    one's engine instead of its own."""
    fixed = "/".join(("", "root", "repo"))  # joined so this file passes
    hits = [
        f"{path.relative_to(REPO)}:{n}"
        for top in ("tools", "tests")
        for path in sorted((REPO / top).rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if fixed in line
    ]
    assert not hits, f"fixed checkout path in: {hits}"
