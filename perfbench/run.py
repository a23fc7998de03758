"""Benchmark of the hospital engine: one closed-loop client per workload.

Run from the repository root:

    python3 perfbench/run.py --workload weekly_load --seed 1 --seconds 10 --trace 0

``weekly_load`` times weekly HHS loads into a warehouse with 36 weeks of
history; ``registry`` times analytics registry queries on the sf0.01
tables in ``perfbench/data`` (workloads.py).  Each run starts Spark on
local[N] (N = min(4, usable cores)) in a fresh directory under
``.perfbench_run/``, makes its inputs from the seed, sets up and warms up
untimed while checking every output, then runs whole cycles of ops for
at least ``--seconds`` and checks each op's output.

It prints one line per metric (name, value, unit) and, as the last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Every run prints every per-layer metric; a
layer the workload does not exercise reads 0.  A traced run also writes
its spans to ``.perfbench_out/``.  It exits non-zero, printing no
result, when the engine cannot be imported or the run cannot be set up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent

# Engine temp dirs all start with this prefix; any left in the run's
# temp root when it ends were leaked by the engine.
ENGINE_TEMP_PREFIX = "hdt_"
SETTLE_PAUSE_S = 0.5
MAX_CPUS = 4


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["weekly_load", "registry"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def new_run_dir() -> Path:
    base = REPO / ".perfbench_run"
    base.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix="run-", dir=base))
    for sub in ("tmp", "warehouse", "inputs", "spark-local"):
        (run_dir / sub).mkdir()
    # engine temp dirs (tempfile.mkdtemp) land in the run's temp root
    tempfile.tempdir = str(run_dir / "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir
    return run_dir


def start_session(run_dir: Path):
    from health_data_transformation_spark.session import get_spark

    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    # spark-submit first runs a helper JVM to build the driver's command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    )
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_confs={
            "spark.driver.memory": "2g",
            "spark.local.dir": str(run_dir / "spark-local"),
            # no perf data file in the system temp dir
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
            ),
            "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def settle(spark) -> None:
    """Collect garbage left by set-up before timing starts."""
    spark.sparkContext._jvm.System.gc()
    time.sleep(SETTLE_PAUSE_S)


def leaked_temp_dirs(run_dir: Path) -> int:
    return sum(
        1 for p in (run_dir / "tmp").iterdir() if p.name.startswith(ENGINE_TEMP_PREFIX)
    )


def listener_drain(spark):
    """Waits until Spark's listener bus has delivered every event posted
    so far, so the status tracker has seen every finished job."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    return bus.waitUntilEmpty


def run(args) -> tuple[dict, dict, bool, int, int]:
    from measure import JobCounter, Tracer, cpu_ticks, median, peak_rss_mb, tail, tree_size
    from workloads import WORKLOADS, Context, OpResult, table_files

    run_dir = new_run_dir()
    workload = WORKLOADS[args.workload](args.seed)
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        with tracer.span("prepare"):
            workload.prepare()
        t_setup = time.perf_counter()
        with tracer.span("session.start"):
            spark, start_s = start_session(run_dir)
        jobs = None
        if args.trace:
            jobs = JobCounter(spark.sparkContext.statusTracker(), listener_drain(spark))
        ctx = Context(spark, run_dir, tracer, jobs)
        with tracer.span("setup"):
            workload.setup(ctx)
        setup_s = time.perf_counter() - t_setup
        # stored bytes per input byte over the fixed set-up loads, so the
        # ratio does not depend on how many ops the window held
        stored = tree_size(str(run_dir / "warehouse"))[1] / max(ctx.csv_bytes, 1)
        settle(spark)
        if jobs:
            jobs.take()

        results: list[OpResult] = []
        ticks0 = cpu_ticks()
        deadline = time.perf_counter() + args.seconds
        while len(results) % workload.cycle or time.perf_counter() < deadline:
            j = len(results)
            t0 = time.perf_counter()
            try:
                res = workload.op(j)
            except Exception as e:  # a failed op is counted, not fatal
                res = OpResult("error", time.perf_counter() - t0, False, repr(e)[:300])
            results.append(res)
        ticks1 = cpu_ticks()

        workload.finish()
        if args.trace:
            jobs.take()  # the final check's jobs belong to no op
            workload.query_pass()
        rss_mb = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        files = table_files(run_dir)
    finally:
        if spark is not None:
            stop_session(spark)
        leaked = leaked_temp_dirs(run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)

    secs = [r.seconds for r in results]
    failed = sum(not r.ok for r in results)
    tail_pct, tail_s, beyond = tail(secs)
    timed_loads = [rec for rec in ctx.loads if rec.op is not None]
    rows_added = sum(rec.rows_added for rec in timed_loads)
    load_secs = sum(r.seconds for r in results if r.kind in ("hhs", "redeliver", "cms"))
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (median(secs), "s"),
        "op_tail_s": (tail_s, "s"),
        "ops_per_s": (len(secs) / sum(secs), "1/s"),
    }
    info = {
        "failed_op_share": (failed / len(results), "1"),
        "op_samples": (len(secs), "count"),
        "op_tail_percentile": (tail_pct, "%"),
        "op_tail_samples_beyond": (beyond, "count"),
        "rows_loaded_per_s": (rows_added / load_secs if load_secs else 0.0, "1/s"),
        "stored_bytes_per_input_byte": (stored, "B/B"),
        # the JVM's high-water resident set; G1 grows the heap on GC time,
        # so it varies by up to a quarter from run to run
        "peak_rss_mb": (rss_mb, "MB"),
        # CPU time the hypervisor gave other guests while ops ran: a slow
        # run with a high share was slowed by the host, not the engine
        "host_steal_share": (
            (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1), "1"
        ),
    }
    for r in results:
        if not r.ok:
            ctx.problems.append(f"op {r.kind}: {r.detail}")
    print("perfbench: ops " + " ".join(f"{r.kind}:{r.seconds:.3f}" for r in results),
          file=sys.stderr)
    for p in ctx.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    correct = not ctx.problems

    if not args.trace:
        return e2e, info, correct, len(results), failed
    out_dir = REPO / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    tracer.dump(str(out_dir / f"spans-{args.workload}-seed{args.seed}.json"))
    layers = layer_metrics(ctx, tracer, start_s, files, leaked, e2e, info)
    return layers, info, correct, len(results), failed


def layer_metrics(ctx, tracer, start_s, files, leaked, e2e, info) -> dict:
    """Per-layer metrics of a traced run.  Load metrics cover the timed
    loads; query metrics cover the timed ops, or the untimed pass after
    the window where no op ran the query."""
    from measure import median
    from oracle import QUERIES
    from workloads import Registry

    def div(a, b):
        return a / b if b else 0.0

    loads = [rec for rec in ctx.loads if rec.op is not None]

    def span_median(name: str) -> float:
        spans = [s for s in tracer.spans if s.name == name and s.op is not None]
        return median([s.end - s.start for s in spans])

    def work(attr):
        return median([getattr(rec.work, attr) for rec in loads])

    input_rows = sum(rec.input_rows for rec in loads)
    added = sum(rec.rows_added for rec in loads)
    m = {
        "session.start_s": (start_s, "s"),
        "sources.csv.read_s": (span_median("sources.csv.read"), "s"),
        "ingest.load_s": (span_median("ingest.load"), "s"),
        "ingest.jobs_per_load": (work("jobs"), "count"),
        "ingest.stages_per_load": (work("stages"), "count"),
        "ingest.tasks_per_load": (work("tasks"), "count"),
        "ingest.failed_tasks": (sum(rec.work.failed_tasks for rec in loads), "count"),
        "ingest.rows_added_share": (div(added, input_rows), "1"),
        "ingest.rows_loaded_per_s": (div(added, sum(rec.load_s for rec in loads)), "1/s"),
        "catalog.read_s": (span_median("catalog.read"), "s"),
        "catalog.append_s": (span_median("catalog.append_idempotent"), "s"),
        "catalog.bytes_written_per_load": (median([r.bytes_written for r in loads]), "B"),
        "catalog.files_written_per_load": (median([r.files_written for r in loads]), "count"),
        "catalog.stored_bytes_per_input_byte": info["stored_bytes_per_input_byte"],
    }
    for table, n in files.items():
        m[f"catalog.files.{table}"] = (n, "count")

    def records(recs, q):
        recs = [r for r in recs if r.q == q]
        return [r for r in recs if r.op is not None] or recs

    for q in QUERIES:
        recs = records(ctx.queries, q)
        name = f"plans.hospital_queries.{q}"
        m[f"{name}.build_s"] = (median([r.build_s for r in recs]), "s")
        m[f"{name}.plan_s"] = (median([r.plan_s for r in recs]), "s")
        m[f"{name}.exec_s"] = (median([r.exec_s for r in recs]), "s")
        m[f"{name}.jobs"] = (median([r.jobs for r in recs]), "count")

    timed = [r for r in ctx.analytics if r.op is not None]
    passes = len(timed) / len(Registry.SAMPLE)
    build, plan, execute = (
        sum(getattr(r, a) for r in timed) for a in ("build_s", "plan_s", "exec_s")
    )
    m["plans.analytics.build_s"] = (div(build, passes), "s")
    m["plans.analytics.plan_s"] = (div(plan, passes), "s")
    m["plans.analytics.exec_s"] = (div(execute, passes), "s")
    m["plans.analytics.build_share"] = (div(build, build + plan + execute), "1")
    m["plans.analytics.jobs_per_query"] = (div(sum(r.jobs for r in timed), len(timed)), "count")
    for q in Registry.TARGETS:
        recs = records(ctx.analytics, q)
        name = f"plans.analytics.{q.split('_')[0]}"
        m[f"{name}.build_s"] = (median([r.build_s for r in recs]), "s")
        m[f"{name}.exec_s"] = (median([r.exec_s for r in recs]), "s")
        m[f"{name}.jobs"] = (median([r.jobs for r in recs]), "count")

    m["jvm.peak_rss_mb"] = info["peak_rss_mb"]
    m["streaming.leaked_temp_dirs"] = (leaked, "count")
    m["ops.samples"] = (info["op_samples"][0], "count")
    m["ops.tail_samples_beyond"] = (info["op_tail_samples_beyond"][0], "count")
    m["ops.failed_share"] = (info["failed_op_share"][0], "1")
    m["trace.op_p50_s"] = (e2e["op_p50_s"][0], "s")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(REPO))
    sys.path.insert(1, str(REPO / "tools"))  # check_oracle: the registry's oracle check
    # Python workers (UDFs, Python data sources) import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
    )
    try:
        import health_data_transformation_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {REPO}: {e}", file=sys.stderr)
        return 2
    try:
        metrics, info, correct, attempted, failed = run(args)
    except Exception:
        traceback.print_exc()
        print("perfbench: run could not complete", file=sys.stderr)
        return 1
    for name, (value, unit) in {**metrics, **info}.items():
        print(f"{name} {value} {unit}")
    print(json.dumps({
        "correct": correct and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
