"""The benchmark's workloads, each one closed-loop client of the engine.

``weekly_load`` is the pipeline operator replaying weekly HHS drops into a
warehouse that already holds 36 weeks of history; ``registry`` is the
analyst running analytics registry queries.  Each workload makes its
inputs in ``prepare`` (pure Python, no Spark), builds its state and warms
up in ``setup``, and runs one op per ``op`` call, returning the op's time
in the engine and whether its output was right.  A run times whole
cycles of ``cycle`` ops, so every run does the same mix of work.
"""

from __future__ import annotations

import datetime as dt
import functools
import random
import time
from dataclasses import dataclass, field
from pathlib import Path

import gen
from measure import JobCounter, SparkWork, Tracer, data_files, tree_size
from oracle import QUERIES, DashboardOracle, matches

TABLES = [
    "hospitals", "hospital_locations", "hospital_bed_information",
    "hospital_quality_information",
]


@dataclass
class OpResult:
    kind: str
    seconds: float
    ok: bool
    detail: str = ""


@dataclass
class LoadRecord:
    """One call into the loaders, for the per-layer metrics."""

    kind: str
    op: int | None  # None in set-up
    input_rows: int
    rows_added: int
    load_s: float
    work: SparkWork | None = None
    bytes_written: int = 0
    files_written: int = 0


@dataclass
class QueryRecord:
    q: str
    op: int | None  # None in set-up
    build_s: float
    plan_s: float
    exec_s: float
    jobs: int | None


@dataclass
class Context:
    """What every workload gets from the harness."""

    spark: object
    run_dir: Path
    tracer: Tracer
    jobs: JobCounter | None
    csv_bytes: int = 0
    loads: list[LoadRecord] = field(default_factory=list)
    queries: list[QueryRecord] = field(default_factory=list)
    analytics: list[QueryRecord] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)


def traced_warehouse(ctx: Context):
    """A ``catalog.Warehouse`` whose public calls are spans when tracing."""
    from health_data_transformation_spark.catalog import Warehouse

    root = str(ctx.run_dir / "warehouse")
    if not ctx.tracer.enabled:
        return Warehouse(ctx.spark, root)
    tracer = ctx.tracer

    class TracedWarehouse(Warehouse):
        def read(self, table):
            with tracer.span("catalog.read"):
                return super().read(table)

        def append_idempotent(self, df, table, keys=None):
            with tracer.span("catalog.append_idempotent"):
                return super().append_idempotent(df, table, keys)

        def quarantine(self, df, name):
            with tracer.span("catalog.quarantine"):
                return super().quarantine(df, name)

    return TracedWarehouse(ctx.spark, root)


class Loader:
    """Writes a generated file and runs it through the engine's reader and
    loader, checking the ``LoadReport`` against the model's expectation."""

    def __init__(self, ctx: Context, wh, model: gen.Model):
        from health_data_transformation_spark import ingest
        from health_data_transformation_spark.operators import cleaning
        from health_data_transformation_spark.sources import csv as sources_csv

        self.ctx, self.wh, self.model = ctx, wh, model
        self.ingest, self.cleaning, self.csv = ingest, cleaning, sources_csv
        self.n = 0

    def _write(self, data: bytes) -> str:
        path = self.ctx.run_dir / "inputs" / f"in_{self.n:04d}.csv"
        self.n += 1
        path.write_bytes(data)
        self.ctx.csv_bytes += len(data)
        return str(path)

    def hhs(self, drop: gen.HhsDrop, kind: str = "hhs", op: int | None = None,
            want: gen.Expected | None = None) -> OpResult:
        """``want`` is the expectation if the model has already seen ``drop``."""
        path = self._write(drop.data)
        want = want or self.model.load_hhs(drop)
        return self._run(kind, want, op, lambda: self.csv.read_hhs_csv(self.ctx.spark, path),
                         self.ingest.load_hhs_frame)

    def cms(self, snaps: list[gen.CmsSnapshot], op: int | None = None) -> OpResult:
        """Loads one or more snapshot files, each stamped with its date, in
        one ``load_quality_frame`` call."""
        paths = [(self._write(s.data), s.data_date) for s in snaps]
        want = self.model.load_cms(
            gen.CmsSnapshot("", b"", [r for s in snaps for r in s.rows])
        )

        def read():
            frames = [
                self.cleaning.stamp_literal(
                    self.csv.read_cms_csv(self.ctx.spark, path), "data_date", date, "date"
                )
                for path, date in paths
            ]
            return functools.reduce(lambda a, b: a.unionByName(b), frames)

        return self._run("cms", want, op, read, self.ingest.load_quality_frame)

    def _run(self, kind, want: gen.Expected, op, read, load) -> OpResult:
        ctx, tracer = self.ctx, self.ctx.tracer
        before = tree_size(str(ctx.run_dir / "warehouse")) if tracer.enabled else None
        with tracer.span("op", op):
            t0 = time.perf_counter()
            with tracer.span("sources.csv.read", op):
                raw = read()
            t1 = time.perf_counter()
            with tracer.span("ingest.load", op):
                report = load(raw, self.wh)
            t2 = time.perf_counter()
        rec = LoadRecord(kind, op, report.input_rows, sum(report.table_rows_added.values()), t2 - t1)
        if tracer.enabled:
            rec.work = ctx.jobs.take()
            after = tree_size(str(ctx.run_dir / "warehouse"))
            rec.files_written, rec.bytes_written = after[0] - before[0], after[1] - before[1]
        ctx.loads.append(rec)
        got = gen.Expected(
            report.input_rows, report.invalid_rows, report.duplicate_rows,
            report.table_rows_added,
        )
        ok = got == want
        return OpResult(kind, t2 - t0, ok, "" if ok else f"{kind}: got {got}, want {want}")


def check_tables(ctx: Context, wh, model: gen.Model) -> None:
    """Row counts of every warehouse table against the model."""
    want = model.table_rows()
    got = {t: wh.read(t).count() for t in TABLES}
    if got != want:
        ctx.problems.append(f"table rows: got {got}, want {want}")


class QueryRunner:
    """Runs one dashboard query with build / plan / execute timed apart
    and checks the collected rows against the oracle."""

    def __init__(self, ctx: Context, wh, oracle: DashboardOracle):
        from health_data_transformation_spark.plans import hospital_queries as hq

        self.ctx, self.wh, self.oracle = ctx, wh, oracle
        self.fns = {
            "q1": hq.q1_records_for_week,
            "q2": hq.q2_weekly_record_counts,
            "q3": hq.q3_bed_sums_for_week,
            "q4": hq.q4_recent_week_sums,
            "q5": hq.q5_bed_usage_by_rating,
            "q6": hq.q6_total_bed_usage,
            "q7": hq.q7_emergency_services_by_state,
            "q8a": hq.q8a_bed_usage_by_ownership,
            "q8b": hq.q8b_top_bottom_rated_states,
        }

    def run(self, q: str, arg, op: int | None = None) -> OpResult:
        fn, tracer, name = self.fns[q], self.ctx.tracer, f"plans.hospital_queries.{q}"
        args = () if arg is None else (arg,)
        with tracer.span("op", op):
            t0 = time.perf_counter()
            with tracer.span(f"{name}.build", op):
                df = fn(self.wh, *args)
            t1 = time.perf_counter()
            with tracer.span(f"{name}.plan", op):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tracer.span(f"{name}.exec", op):
                rows = df.collect()
            t3 = time.perf_counter()
        jobs = self.ctx.jobs.take().jobs if tracer.enabled else None
        self.ctx.queries.append(QueryRecord(q, op, t1 - t0, t2 - t1, t3 - t2, jobs))
        got = [tuple(r) for r in rows]
        want = self.oracle.expected(q, arg)
        ok = matches(q, got, want)
        return OpResult(q, t3 - t0, ok, "" if ok else f"{q}({arg}): got {got[:3]}, want {want[:3]}")


class WeeklyLoad:
    """Replays weekly HHS drops into a warehouse pre-seeded with
    HISTORY_WEEKS of history, with a re-delivered earlier week and a CMS
    snapshot at fixed places in every cycle of ops.

    The shape follows the HHS "COVID-19 Reported Patient Impact and
    Hospital Capacity by Facility" feed: ~5k hospitals per weekly drop,
    ~100 columns of which the loader uses 17.  36 weeks of history put the
    bed table past Spark's parallel partition discovery threshold (32
    paths) from the start, as in a real warehouse, so every load's
    bed-table probe lists its partitions the way it would there.
    """

    name = "weekly_load"
    HOSPITALS = 5000
    NEW_PER_WEEK = 25  # hospitals joining the feed each week
    HISTORY_WEEKS = 36
    WARMUP = ("hhs", "hhs", "redeliver")
    CYCLE = ("hhs", "hhs", "redeliver", "hhs", "cms")
    cycle = len(CYCLE)
    PREGENERATED = 5  # the warm-up loads and one cycle; later weeks are made on demand

    def __init__(self, seed: int):
        self.feed = gen.Feed(seed)
        self.rng = random.Random(f"{seed}:weekly_load")
        self.model = gen.Model()
        self.next_week = self.HISTORY_WEEKS
        self.next_cms = 0
        self.drops: dict[int, gen.HhsDrop] = {}

    def window(self, week: int) -> range:
        start = week * self.NEW_PER_WEEK
        return range(start, start + self.HOSPITALS)

    def cms_date(self, k: int) -> str:
        month = 6 + k
        return dt.date(2020 + month // 12, month % 12 + 1, 1).isoformat()

    def prepare(self) -> None:
        self.backfill = self.feed.hhs_backfill(range(self.HISTORY_WEEKS), self.window)
        self.backfill_want = self.model.load_hhs(self.backfill)
        for w in range(self.next_week, self.next_week + self.PREGENERATED):
            self.drops[w] = self.feed.hhs_drop(w, self.window(w))

    def _drop(self, week: int) -> gen.HhsDrop:
        return self.drops.pop(week, None) or self.feed.hhs_drop(week, self.window(week))

    def setup(self, ctx: Context) -> None:
        self.ctx = ctx
        self.wh = traced_warehouse(ctx)
        self.loader = Loader(ctx, self.wh, self.model)
        self._check(self.loader.hhs(self.backfill, "backfill", want=self.backfill_want))
        del self.backfill
        self._check(self._cms())
        for kind in self.WARMUP:
            self._check(self._op(kind, None))

    def _check(self, res: OpResult) -> None:
        if not res.ok:
            self.ctx.problems.append(f"warm-up {res.detail}")

    def _cms(self, op=None) -> OpResult:
        snap = self.feed.cms_snapshot(
            self.cms_date(self.next_cms), self.window(self.next_week - 1)
        )
        self.next_cms += 1
        return self.loader.cms([snap], op)

    def _op(self, kind: str, op: int | None) -> OpResult:
        if kind == "cms":
            return self._cms(op)
        if kind == "redeliver":
            week = self.rng.randrange(self.next_week)
            return self.loader.hhs(self.feed.hhs_drop(week, self.window(week)), kind, op)
        week, self.next_week = self.next_week, self.next_week + 1
        return self.loader.hhs(self._drop(week), kind, op)

    def op(self, j: int) -> OpResult:
        return self._op(self.CYCLE[j % len(self.CYCLE)], j)

    def finish(self) -> None:
        check_tables(self.ctx, self.wh, self.model)

    def query_pass(self) -> None:
        """One untimed pass of Q1-Q8b over the loaded warehouse, so the
        query layer is traced here too; its results are checked."""
        runner = QueryRunner(self.ctx, self.wh, DashboardOracle(self.model))
        last = gen.week_date(self.next_week - 1)
        args = {"q1": last, "q2": last, "q3": last, "q6": last,
                "q8a": gen.OWNERSHIPS[0], "q8b": self.cms_date(0)}
        for q in QUERIES:
            res = runner.run(q, args.get(q))
            if not res.ok:
                self.ctx.problems.append(res.detail)


class Registry:
    """Analytics registry queries (``plans.analytics.REGISTRY``) on the sf0.01
    tables in ``data/``, each executed through the ``noop`` sink.

    The timed ops run a fixed SAMPLE of quick queries, every one PASSES
    times per cycle in seeded orders; set-up checks each one and runs it
    once more untimed.  A traced run also times the six
    TARGETS once after the window.  Every query's collected result is
    checked against its DuckDB oracle before it is timed; a mismatch fails
    that query's ops.
    """

    name = "registry"
    DATA = Path(__file__).resolve().parent / "data" / "sf0.01"
    # every 22nd, by name, of the 218 queries under 1 s in the sf0.1 bench
    # (BENCH_detail_r14.json)
    SAMPLE = (
        "q01_week_count", "q119_argmax_customer", "q142_source_checksums",
        "q172_mixture_allocation", "q20_distinct_per_segment", "q23_balance_buckets",
        "q276_power_iteration_pca", "q307_patch_grid_features", "q36_lsh_buckets",
        "q69_levenshtein_pairs",
    )
    PASSES = 4
    # ROADMAP's slow queries: eager job chains or execute dominate
    TARGETS = (
        "q77_deduped_corpus", "q173_semantic_dedup", "q313_recsys_holdout_eval",
        "q338_stream_embedding_admission", "q199_warehouse_profile",
        "q169_ingest_lifecycle",
    )
    cycle = PASSES * len(SAMPLE)

    def __init__(self, seed: int):
        self.rng = random.Random(f"{seed}:registry")

    def prepare(self) -> None:
        """Each sampled query's oracle result, on DuckDB."""
        self.want = {q: self.oracle_rows(q) for q in self.SAMPLE}

    def oracle_rows(self, q: str):
        """Sorted column names and the canonical rows of the oracle's result."""
        import duckdb
        from check_oracle import TABLES, canon_frame

        import __spark_entry__

        if not hasattr(self, "oracle"):
            self.oracle = duckdb.connect()
            for t in TABLES:
                self.oracle.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.DATA}/{t}.parquet'")
            self.oracle_sql = __spark_entry__.oracle_sql()
        df = self.oracle.execute(self.oracle_sql[q]).df()
        return sorted(df.columns), canon_frame(df)

    def setup(self, ctx: Context) -> None:
        import shutil

        from health_data_transformation_spark.plans.analytics import REGISTRY

        self.ctx, self.registry = ctx, REGISTRY
        # a private copy, so a query that writes next to its inputs
        # leaves nothing behind
        self.sf_dir = str(ctx.run_dir / "inputs" / "sf0.01")
        shutil.copytree(self.DATA, self.sf_dir)
        self.bad: set[str] = set()
        for q in self.SAMPLE:
            self.check(q)
        # one untimed pass through the noop sink: the first noop pass after
        # the checks still runs ~25% slower than the later ones
        for q in self.SAMPLE:
            self.run(q, None)

    def check(self, q: str, df=None) -> None:
        """The query's collected result (of ``df`` if given) against its
        oracle, compared as ``tools/check_oracle.py`` compares them."""
        from check_oracle import canon_frame

        try:
            if q not in self.want:
                self.want[q] = self.oracle_rows(q)
            columns, rows = self.want[q]
            if df is None:
                df = self.registry[q].fn(self.ctx.spark, self.sf_dir)
            got = df.toPandas()
            if sorted(got.columns) != columns:
                problem = f"columns {sorted(got.columns)} vs {columns}"
            elif canon_frame(got) != rows:
                problem = f"{len(got)} rows differ from the oracle's {len(rows)}"
            else:
                return
        except Exception as e:
            problem = repr(e)[:300]
        self.bad.add(q)
        self.ctx.problems.append(f"{q}: {problem}")

    def run(self, q: str, op: int | None) -> OpResult:
        tracer, name = self.ctx.tracer, "plans.analytics"
        with tracer.span("op", op):
            t0 = time.perf_counter()
            with tracer.span(f"{name}.build", op):
                df = self.registry[q].fn(self.ctx.spark, self.sf_dir)
            t1 = time.perf_counter()
            with tracer.span(f"{name}.plan", op):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tracer.span(f"{name}.exec", op):
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        jobs = self.ctx.jobs.take().jobs if tracer.enabled else None
        self.ctx.analytics.append(QueryRecord(q, op, t1 - t0, t2 - t1, t3 - t2, jobs))
        self.df = df  # for the check after a target's timed call
        ok = q not in self.bad
        return OpResult(q, t3 - t0, ok, "" if ok else f"{q}: wrong result in warm-up")

    def op(self, j: int) -> OpResult:
        # every pass holds each query once, in a seeded order
        if j % len(self.SAMPLE) == 0:
            self.order = self.rng.sample(self.SAMPLE, len(self.SAMPLE))
        return self.run(self.order[j % len(self.SAMPLE)], j)

    def finish(self) -> None:
        pass

    def query_pass(self) -> None:
        """Each target timed once, on its first call in the run, then
        checked by collecting the same DataFrame again.  The targets' build
        dominates their time, so the check does not build them twice."""
        for q in self.TARGETS:
            self.run(q, None)
            self.check(q, self.df)
            self.ctx.jobs.take()  # the check's jobs belong to no timed call


WORKLOADS = {w.name: w for w in (WeeklyLoad, Registry)}


def table_files(run_dir: Path) -> dict[str, int]:
    return {t: data_files(str(run_dir / "warehouse" / t)) for t in TABLES}
