"""How a weekly load's cost grows with the warehouse's history (ad hoc).

Runs perfbench's ``weekly_load`` workload with its warehouse seeded
with 36, 72 and 144 weeks of history instead of its fixed 36, one fresh
Spark process per length, and prints per-load seconds, Spark jobs and
tasks for the timed loads, by kind (``hhs`` is a new week, ``redeliver``
an earlier week again, ``cms`` a quality snapshot), and each table's
parquet file count after them.  ``calls`` is the load's driver->JVM
(py4j) calls from any thread, its file read included, and ``main`` the
part of them made on the calling thread: the build layer's cost as a
count.  Under each kind's row, ``top`` names the five package
functions that made the most of a load's ``main`` calls (median per
load; a call is charged to the innermost engine frame on its stack).
The benchmark itself is unchanged; this only reuses its data
generator, model checks, tracer and job counter.

    python tools/history_sweep.py [--weeks 36 72 144] [--ops 10] [--seed 1]

Every load's report is checked against the model as in the benchmark; a
mismatch is printed and makes the exit status non-zero.  The 144-week
set-up loads ~720k backfill rows and takes a few minutes on 4 cores.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = str(REPO / "health_data_transformation_spark") + os.sep
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "perfbench"))


def package_frame() -> str | None:
    """``<module file>:<function>`` of the innermost engine frame on the
    calling thread's stack, or None outside the engine."""
    f = sys._getframe(2)
    while f is not None:
        if f.f_code.co_filename.startswith(PACKAGE):
            return f"{os.path.basename(f.f_code.co_filename)}:{f.f_code.co_name}"
        f = f.f_back
    return None


def count_jvm_calls(spark) -> tuple[dict[str, int], Counter]:
    """A live count of the driver's py4j calls from here on: ``all``
    from any thread, ``main`` from the calling one; and the calling
    thread's calls by the engine function that made them."""
    client = spark.sparkContext._gateway._gateway_client
    send, me, n = client.send_command, threading.get_ident(), {"all": 0, "main": 0}
    by_fn: Counter = Counter()

    def counting(*args, **kwargs):
        n["all"] += 1
        if threading.get_ident() == me:
            n["main"] += 1
            fn = package_frame()
            if fn is not None:
                by_fn[fn] += 1
        return send(*args, **kwargs)

    client.send_command = counting
    return n, by_fn


def one(weeks: int, ops: int, seed: int) -> dict:
    """Set up ``weekly_load`` over ``weeks`` of history and run ``ops``
    timed ops in this process; per-load records of the timed loads."""
    import run as bench
    from measure import JobCounter, Tracer
    from workloads import Context, WeeklyLoad, table_files

    class Sweep(WeeklyLoad):
        HISTORY_WEEKS = weeks

    class LoadCalls(Tracer):
        """Also notes the JVM calls made inside each load's read and
        load spans: one entry per load, in the order of ``ctx.loads``."""

        def __init__(self, calls: dict[str, int], by_fn: Counter):
            super().__init__(True)
            self.calls, self.by_fn, self.per_load = calls, by_fn, []
            self.pending, self.pending_fn = dict.fromkeys(calls, 0), Counter()

        @contextmanager
        def span(self, name, op=None):
            before, before_fn = dict(self.calls), Counter(self.by_fn)
            with super().span(name, op):
                yield
            if name in ("sources.csv.read", "ingest.load"):
                for k, v in before.items():
                    self.pending[k] += self.calls[k] - v
                self.pending_fn.update(self.by_fn - before_fn)
            if name == "ingest.load":
                self.per_load.append({**self.pending, "by_fn": dict(self.pending_fn)})
                self.pending, self.pending_fn = dict.fromkeys(self.calls, 0), Counter()

    run_dir = bench.new_run_dir()
    workload = Sweep(seed)
    spark = None
    try:
        workload.prepare()
        spark, _ = bench.start_session(run_dir)
        jobs = JobCounter(spark.sparkContext.statusTracker(), bench.listener_drain(spark))
        ctx = Context(spark, run_dir, LoadCalls(*count_jvm_calls(spark)), jobs)
        workload.setup(ctx)
        bench.settle(spark)
        jobs.take()
        problems = list(ctx.problems)
        for j in range(ops):
            res = workload.op(j)
            if not res.ok:
                problems.append(res.detail)
        files = table_files(run_dir)
    finally:
        if spark is not None:
            bench.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    loads = [
        {"kind": r.kind, "load_s": r.load_s, "jobs": r.work.jobs, "tasks": r.work.tasks,
         "calls": calls["all"], "main": calls["main"], "by_fn": calls["by_fn"]}
        for r, calls in zip(ctx.loads, ctx.tracer.per_load)
        if r.op is not None
    ]
    return {"weeks": weeks, "loads": loads, "files": files, "problems": problems}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--weeks", type=int, nargs="+", default=[36, 72, 144])
    p.add_argument("--ops", type=int, default=10, help="timed ops per history length")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--one", type=int, help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    from measure import median

    if args.one is not None:
        print(json.dumps(one(args.one, args.ops, args.seed)))
        return 0

    print(
        f"{'weeks':>5} {'kind':<9} {'loads':>5} {'load_s':>7} {'jobs':>5} "
        f"{'tasks':>6} {'calls':>6} {'main':>6}"
    )
    bad = 0
    for weeks in args.weeks:
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, __file__, "--one", str(weeks),
             "--ops", str(args.ops), "--seed", str(args.seed)],
            check=True, stdout=subprocess.PIPE, text=True, cwd=REPO,
        ).stdout
        res = json.loads(out.strip().splitlines()[-1])
        by_kind: dict[str, list[dict]] = {"all": res["loads"]}
        for rec in res["loads"]:
            by_kind.setdefault(rec["kind"], []).append(rec)
        for kind, recs in by_kind.items():
            print(
                f"{weeks:>5} {kind:<9} {len(recs):>5} "
                f"{median([r['load_s'] for r in recs]):>7.3f} "
                f"{median([r['jobs'] for r in recs]):>5.1f} "
                f"{median([r['tasks'] for r in recs]):>6.1f} "
                f"{median([r['calls'] for r in recs]):>6.0f} "
                f"{median([r['main'] for r in recs]):>6.0f}"
            )
            fns = {fn for r in recs for fn in r["by_fn"]}
            top = sorted(
                ((median([r["by_fn"].get(fn, 0) for r in recs]), fn) for fn in fns),
                key=lambda t: (-t[0], t[1]),
            )[:5]
            print(f"{'':>5} {'':<9} top " + ", ".join(f"{fn} {n:.0f}" for n, fn in top))
        print(f"{weeks:>5} files    {res['files']}")
        for problem in res["problems"]:
            print(f"{weeks:>5} PROBLEM {problem}")
        bad += len(res["problems"])
        print(f"{weeks:>5} (process {time.perf_counter() - t0:.0f} s)", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    os.chdir(REPO)
    sys.exit(main())
