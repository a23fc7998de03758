"""Dump `.explain("formatted")` for registered queries to files, or
compare them with another checkout's.

Usage:
    python tools/dump_explain.py --out plans/r12 --suffix _before.txt q313_... q76_...
    python tools/dump_explain.py --against ../parent --sf-dir /data/sf0.01 q68_... q110_...

Plans are built, never executed (building a query may still run its
own eager jobs); safe to run alongside other work.  One file per
query: <out>/<name><suffix>.

``--against <checkout>`` dumps the same queries with this checkout's
package and with ``<checkout>``'s (one fresh process each), normalizes
both (``normalize_plan``: run-specific ids, RDD attribute lists, commit
uuids and temp roots), and prints SAME or DIFF per query with the first
differing lines.  It exits non-zero on any DIFF — a refactor that
claims unchanged plans shows it this way.
"""

from __future__ import annotations

import argparse
import difflib
import os
import re
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: (pattern, replacement) pairs applied in order by ``normalize_plan``.
_NORMALIZE = [
    # attribute lists of checkpointed / RDD-backed relations
    (re.compile(r"((?:LogicalRDD|ExistingRDD)\b.*?)\[[^\]]*\]"), r"\1[...]"),
    (re.compile(r"^(Arguments: )\[[^\]]*\](, \w*RDD\[)"), r"\1[...]\2"),
    (re.compile(r"\b(\w*RDD)\[\d+\] at .*? at [^,\s]+"), r"\1[N]"),
    (re.compile(r"\[id=#\d+\]"), "[id=#N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"_commit=[\w-]+"), "_commit=X"),
    # hdt_<pid>_<rand>[/<new_dir rand>...]/<leaf>: keep the leaf name
    (re.compile(r"hdt_\d+_[^\s,\]]*/([^/\s,\]]+)"), r"hdt_ROOT/.../\1"),
    (re.compile(r"hdt_\d+_[^\s,\]/]+"), "hdt_ROOT"),
]


def normalize_plan(plan: str) -> str:
    """A formatted plan with everything that differs between two runs
    of the same plan replaced by placeholders: expression ids (``#123``),
    ``[id=#n]``, ``plan_id=``, ``LogicalRDD``/``ExistingRDD`` attribute
    lists and RDD ids, ``_commit=`` uuids and ``hdt_<pid>_*`` temp
    roots."""
    out = []
    for line in plan.splitlines():
        for pattern, repl in _NORMALIZE:
            line = pattern.sub(repl, line)
        out.append(line)
    return "\n".join(out) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="plans/r12")
    ap.add_argument("--suffix", default="_before.txt")
    ap.add_argument(
        "--against",
        metavar="CHECKOUT",
        help="compare normalized plans with this other checkout's",
    )
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    if args.against:
        return 1 if compare(args.against, args.sf_dir, args.queries) else 0
    dump(ROOT, args.sf_dir, args.out, args.suffix, args.queries)
    return 0



def dump(root: str, sf_dir: str, out: str, suffix: str, queries) -> None:
    """Write each query's formatted plan, built with ``root``'s package."""
    sys.path.insert(0, root)
    from health_data_transformation_spark.plans.analytics import REGISTRY
    from health_data_transformation_spark.session import get_spark

    spark = get_spark(app_name="hdt-explain", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(os.path.join(root, out), exist_ok=True)
    for name in queries:
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(root, out, name + suffix)
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)", flush=True)
    spark.stop()


def compare(against: str, sf_dir: str, queries) -> int:
    """Dump ``queries`` in this checkout and in ``against``, print
    SAME/DIFF per query; return the number of queries that differ."""
    with tempfile.TemporaryDirectory(prefix="dump_explain_") as tmp:
        trees = {"this": ROOT, "against": os.path.abspath(against)}
        tools = os.path.join(ROOT, "tools")
        for label, tree in trees.items():
            # a fresh process per tree: each imports its own package
            code = (
                f"import sys; sys.path.insert(0, {tools!r}); "
                "from dump_explain import dump; "
                f"dump({tree!r}, {sf_dir!r}, {os.path.join(tmp, label)!r}, "
                f"'.txt', {list(queries)!r})"
            )
            subprocess.run(
                [sys.executable, "-c", code], cwd=tree, check=True,
                stdout=subprocess.DEVNULL,
            )
        n_diff = 0
        for name in queries:
            plans = []
            for label in trees:
                with open(os.path.join(tmp, label, name + ".txt")) as fh:
                    plans.append(normalize_plan(fh.read()).splitlines())
            if plans[0] == plans[1]:
                print(f"SAME {name}")
                continue
            n_diff += 1
            print(f"DIFF {name}")
            delta = difflib.unified_diff(
                plans[1], plans[0], "against", "this", n=0, lineterm=""
            )
            for line in list(delta)[:40]:
                print(f"    {line}")
    return n_diff


if __name__ == "__main__":
    raise SystemExit(main())
