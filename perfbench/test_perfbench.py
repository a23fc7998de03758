"""Tests of the benchmark's own logic.

    python3 -m pytest perfbench -q

The last test starts Spark to check the generator's expected load
counts against the engine's loaders; the rest need no JVM.
"""

from __future__ import annotations

import csv
import io
import sys
from collections import namedtuple
from pathlib import Path

import pytest

import gen
from measure import JobCounter, Span, Tracer, self_time, tail
from oracle import DashboardOracle, matches, spark_round

REPO = Path(__file__).resolve().parent.parent


def _parse(data: bytes) -> list[dict]:
    return list(csv.DictReader(io.StringIO(data.decode())))


def test_generator_is_byte_identical_per_seed():
    a, b = gen.Feed(7), gen.Feed(7)
    assert a.hhs_drop(3, range(100, 600)).data == b.hhs_drop(3, range(100, 600)).data
    assert (
        a.hhs_backfill(range(2), lambda w: range(0, 300)).data
        == b.hhs_backfill(range(2), lambda w: range(0, 300)).data
    )
    assert a.cms_snapshot("2021-07-01", range(400)).data == b.cms_snapshot(
        "2021-07-01", range(400)
    ).data
    assert gen.Feed(8).hhs_drop(3, range(100, 600)).data != a.hhs_drop(3, range(100, 600)).data


def test_wide_and_narrow_drops_carry_the_same_rows():
    feed = gen.Feed(3)
    wide, narrow = feed.hhs_drop(5, range(500)), feed.hhs_drop(5, range(500), wide=False)
    assert wide.rows == narrow.rows
    assert len(_parse(wide.data)[0]) == 100
    assert len(_parse(narrow.data)[0]) == 17


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_edge_row_counts_do_not_depend_on_the_seed(seed):
    rows = _parse(gen.Feed(seed).hhs_drop(0, range(2000)).data)
    metrics = [[r[c] for c in gen.BED_METRIC_COLS] for r in rows]
    keys = [r["hospital_pk"] for r in rows]
    assert len(rows) == 2000 + 20
    assert len(keys) - len(set(keys)) == 20
    assert sum(gen.HHS_SENTINEL in m for m in metrics) == 40
    assert sum("" in m for m in metrics) == 40
    assert sum(any(v.startswith("-") and v != gen.HHS_SENTINEL for v in m) for m in metrics) == 20
    assert sum(r["hospital_name"] == "" for r in rows) == 10
    cms = _parse(gen.Feed(seed).cms_snapshot("2022-01-01", range(2000)).data)
    ratings = [r["Hospital overall rating"] for r in cms]
    assert ratings.count("Not Available") == 100
    assert ratings.count("-1") == 10
    assert sum(r["Facility ID"] == "" for r in cms) == 10


def test_model_redelivery_adds_nothing():
    feed, model = gen.Feed(5), gen.Model()
    drop = feed.hhs_drop(0, range(300))
    first = model.load_hhs(drop)
    again = model.load_hhs(drop)
    assert first.table_rows_added["hospital_bed_information"] > 0
    assert again.table_rows_added == dict.fromkeys(first.table_rows_added, 0)
    assert again.invalid_rows == first.invalid_rows


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]
    assert tail(samples) == (90.0, 90.0, 10)
    pct, value, beyond = tail([float(i) for i in range(60, 0, -1)])
    assert (pct, value, beyond) == (pytest.approx(100 * 50 / 60), 50.0, 10)
    assert sum(s > value for s in range(1, 61)) == 10
    # too few samples for ten beyond the upper quartile: the quartile
    assert tail([float(i) for i in range(1, 41)]) == (75.0, 30.0, 10)
    assert tail([float(i) for i in range(1, 25)]) == (75.0, 18.0, 6)
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 0)


def test_self_time_subtracts_the_union_of_children():
    parent = Span(0, "p", 0.0, 10.0, None, None)
    kids = [
        Span(1, "a", 1.0, 4.0, 0, None),
        Span(2, "b", 3.0, 5.0, 0, None),   # overlaps a: union 1..5
        Span(3, "c", 8.0, 12.0, 0, None),  # spills past the parent: 8..10
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_time(parent, []) == 10.0
    nested = Span(4, "d", 2.0, 3.0, 1, None)  # inside a, not a child of p
    assert self_time(parent, kids + [nested]) == pytest.approx(4.0)


def test_tracer_nests_spans_and_inherits_the_op():
    tracer = Tracer(True)
    with tracer.span("op", 3):
        with tracer.span("inner"):
            pass
    op, inner = tracer.spans
    assert inner.parent == op.id and inner.op == 3
    assert tracer.self_times()[op.id] <= op.end - op.start
    off = Tracer(False)
    with off.span("op", 1):
        pass
    assert off.spans == []


JobInfo = namedtuple("JobInfo", "jobId stageIds status")
StageInfo = namedtuple(
    "StageInfo",
    "stageId currentAttemptId name numTasks numActiveTasks numCompletedTasks numFailedTasks",
)


class FakeTracker:
    def __init__(self):
        self.jobs, self.stages = {}, {}

    def run_job(self, stages):
        jid = len(self.jobs)
        self.jobs[jid] = JobInfo(jid, [s for s, _ in stages], "SUCCEEDED")
        for sid, tasks in stages:
            self.stages[sid] = StageInfo(sid, 0, "", tasks, 0, tasks, 0)

    def getJobInfo(self, jid):
        return self.jobs.get(jid)

    def getStageInfo(self, sid):
        return self.stages.get(sid)


def test_job_counter_counts_every_new_job_id():
    tracker = FakeTracker()
    tracker.run_job([(0, 4)])
    counter = JobCounter(tracker)
    # jobs from any thread get the next ids; a skipped stage ran no tasks
    tracker.run_job([(1, 4), (2, 1)])
    tracker.run_job([(3, 8)])
    tracker.stages[4] = StageInfo(4, 0, "", 4, 0, 0, 0)
    tracker.jobs[3] = JobInfo(3, [4, 5], "SUCCEEDED")
    tracker.stages[5] = StageInfo(5, 0, "", 2, 0, 2, 0)
    work = counter.take()
    assert (work.jobs, work.stages, work.tasks) == (3, 4, 15)
    assert counter.take().jobs == 0


def test_job_counter_waits_for_a_job_still_running():
    """The status store lags the job: a job taken while it still reads
    RUNNING, with its last stage not yet counted, is read again after the
    listener bus drains, so its final stages and tasks are counted."""
    tracker = FakeTracker()
    drains = []

    def drain():
        drains.append(1)
        if len(drains) == 3:  # the bus delivers the job's end late
            tracker.jobs[0] = JobInfo(0, [0, 1], "SUCCEEDED")
            tracker.stages[1] = StageInfo(1, 0, "", 2, 0, 2, 0)

    counter = JobCounter(tracker, drain, timeout_s=5.0)
    tracker.run_job([(0, 4), (1, 2)])
    tracker.jobs[0] = JobInfo(0, [0, 1], "RUNNING")
    tracker.stages[1] = StageInfo(1, 0, "", 2, 2, 0, 0)
    work = counter.take()
    assert (work.jobs, work.stages, work.tasks) == (1, 2, 6)


def test_spark_round_is_half_up_on_the_decimal_form():
    assert spark_round(0.125, 2) == 0.13
    assert spark_round(2.5, 0) == 3.0
    assert spark_round(1.23455, 4) == 1.2346
    assert spark_round(None, 2) is None


def test_oracle_on_a_small_model():
    feed, model = gen.Feed(4), gen.Model()
    for w in range(3):
        model.load_hhs(feed.hhs_drop(w, range(200)))
    model.load_cms(feed.cms_snapshot("2021-07-01", range(200)))
    oracle = DashboardOracle(model)
    week = gen.week_date(1)
    n = sum(1 for (_, wk) in model.beds if wk == week)
    assert oracle.expected("q1", week) == [(n,)]
    assert [r[0] for r in oracle.expected("q4")] == [
        gen.dt.date.fromisoformat(gen.week_date(w)) for w in range(3)
    ]
    q8b = oracle.expected("q8b", "2021-07-01")
    assert {r[2] for r in q8b} == {"top", "bottom"}
    assert matches("q5", [(1.0, 0.5)], [(1.0, 0.50009)])
    assert not matches("q3", [(1.0,)], [(1.01,)])


def test_registry_queries_exist_and_have_oracles():
    sys.path.insert(0, str(REPO))
    pytest.importorskip("pyspark")
    from workloads import Registry

    import __spark_entry__
    from health_data_transformation_spark.plans.analytics import REGISTRY

    oracles = __spark_entry__.oracle_sql()
    for q in Registry.SAMPLE + Registry.TARGETS:
        assert q in REGISTRY and q in oracles, q
    assert Registry.cycle >= 4 * 10  # ten ops beyond the upper quartile


def test_expected_counts_match_a_load(tmp_path):
    """The generator's expected LoadReport and table rows, against the
    engine's loaders on a small drop, a re-delivery and a snapshot."""
    sys.path.insert(0, str(REPO))
    pytest.importorskip("pyspark")
    from health_data_transformation_spark import ingest
    from health_data_transformation_spark.catalog import Warehouse
    from health_data_transformation_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test", cpus=2)
    try:
        _check_loads(spark, Warehouse(spark, str(tmp_path / "wh")), ingest, tmp_path)
    finally:
        spark.stop()


def _check_loads(spark, wh, ingest, tmp_path):
    feed, model = gen.Feed(11), gen.Model()

    def load(name, data, expected, loader):
        path = tmp_path / name
        path.write_bytes(data)
        report = loader(str(path))
        got = gen.Expected(
            report.input_rows, report.invalid_rows, report.duplicate_rows,
            report.table_rows_added,
        )
        assert got == expected

    for w in (0, 1, 0):
        drop = feed.hhs_drop(w, range(w * 10, w * 10 + 300))
        load(f"hhs{w}.csv", drop.data, model.load_hhs(drop),
             lambda p: ingest.load_hhs(spark, p, wh))
    snap = feed.cms_snapshot("2021-07-01", range(300))
    load("cms.csv", snap.data, model.load_cms(snap),
         lambda p: ingest.load_quality(spark, p, "2021-07-01", wh))
    got = {t: wh.read(t).count() for t in model.table_rows()}
    assert got == model.table_rows()
