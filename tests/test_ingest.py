"""Golden end-to-end loader tests (SURVEY.md §5 layers 1-2, 4).

Each assertion cites the reference behavior it preserves.
"""

from __future__ import annotations

import datetime as dt
import os
import threading

import pyspark.sql.functions as F

from health_data_transformation_spark.ingest import load_hhs, load_quality


def counts(report):
    """Everything a LoadReport counts."""
    return (
        report.table_rows_added, report.input_rows, report.invalid_rows,
        report.duplicate_rows,
    )


def unpublished_commits(warehouse, table: str) -> set[str]:
    """``_commit=`` dirs under the table's ``data/`` that no retained
    manifest lists."""
    t = warehouse.table(table)
    data = os.path.join(t.root, "data")
    on_disk = set(os.listdir(data)) if os.path.isdir(data) else set()
    listed = {
        os.path.relpath(d, data).split(os.sep)[0]
        for m in t.history()
        for d in m["dirs"]
    }
    return on_disk - listed


def test_load_hhs_golden(spark, warehouse, hhs_csv_1):
    report = load_hhs(spark, hhs_csv_1, warehouse)

    # 6 data rows; H4 rejected (negative metric, load_hhs.py:104); H1 week
    # 2022-09-23 duplicated in-batch -> one winner
    assert report.input_rows == 6
    assert report.invalid_rows == 1
    assert report.table_rows_added["hospitals"] == 3  # H1, H2, H3
    assert report.table_rows_added["hospital_bed_information"] == 4

    beds = warehouse.read("hospital_bed_information")
    assert beds.count() == 4

    # sentinel -999999 -> NULL, row retained (load_hhs.py:49)
    h2 = beds.filter(F.col("hospital_fk") == "H2").collect()[0]
    assert h2["all_adult_hospital_beds_7_day_avg"] is None
    # empty metric -> NULL passes the >= 0 check (load_hhs.py:104 short-circuit)
    h3 = beds.filter(F.col("hospital_fk") == "H3").collect()[0]
    assert h3["all_adult_hospital_beds_7_day_avg"] is None
    # negative-metric row quarantined entirely
    assert beds.filter(F.col("hospital_fk") == "H4").count() == 0

    # quarantine sink mirrors invalid_data/*.csv (load_hhs.py:152-155)
    quarantined = spark.read.option("header", True).csv(
        warehouse.root + "/invalid/hhs"
    )
    assert quarantined.count() == 1
    assert quarantined.collect()[0]["hospital_pk"] == "H4"
    assert "non_negative" in quarantined.collect()[0]["_failed_rules"]


def test_load_hhs_first_wins_and_idempotency(spark, warehouse, hhs_csv_1, hhs_csv_2):
    load_hhs(spark, hhs_csv_1, warehouse)
    beds_before = (
        warehouse.read("hospital_bed_information")
        .filter((F.col("hospital_fk") == "H1"))
        .orderBy("collection_week")
        .collect()
    )

    report2 = load_hhs(spark, hhs_csv_2, warehouse)
    # H1/2022-09-23 re-delivered -> dropped (first-wins, load_hhs.py:103);
    # H5 is new
    assert report2.table_rows_added["hospital_bed_information"] == 1
    assert report2.duplicate_rows == 1

    beds_after = (
        warehouse.read("hospital_bed_information")
        .filter((F.col("hospital_fk") == "H1"))
        .orderBy("collection_week")
        .collect()
    )
    assert [r.asDict() for r in beds_before] == [r.asDict() for r in beds_after]

    # re-delivering the SAME file is a complete no-op (D4 idempotency)
    report3 = load_hhs(spark, hhs_csv_2, warehouse)
    assert report3.table_rows_added["hospital_bed_information"] == 0
    assert report3.table_rows_added["hospitals"] == 0


def test_load_quality_golden(spark, warehouse, cms_csv_1):
    report = load_quality(spark, cms_csv_1, "2022-10-01", warehouse)

    # 5 rows; H1 duplicated in-batch -> 4 appended, 1 duplicate
    assert report.input_rows == 5
    assert report.invalid_rows == 0
    assert report.table_rows_added["hospital_quality_information"] == 4
    assert report.duplicate_rows == 1

    q = warehouse.read("hospital_quality_information")
    rows = {r["facility_id"]: r for r in q.collect()}
    # 'Not Available' -> 0 (load_quality.py:103)
    assert rows["H2"]["hospital_overall_rating"] == 0.0
    # empty rating -> NULL (lenient cast)
    assert rows["H3"]["hospital_overall_rating"] is None
    # Yes/No -> boolean (load_quality.py:105)
    assert rows["H1"]["emergency_services"] is True
    assert rows["H2"]["emergency_services"] is False
    # data_date stamped on every row (load_quality.py:106-107)
    assert str(rows["H1"]["data_date"]) == "2022-10-01"


def test_load_quality_new_snapshot_same_facilities(spark, warehouse, cms_csv_1):
    load_quality(spark, cms_csv_1, "2022-10-01", warehouse)
    # same facilities at a NEW data_date are fresh rows, not duplicates
    # (key is facility_id+data_date, load_quality.py:119-126)
    report = load_quality(spark, cms_csv_1, "2023-01-01", warehouse)
    assert report.table_rows_added["hospital_quality_information"] == 4
    assert warehouse.read("hospital_quality_information").count() == 8


def test_failed_load_changes_no_table(
    spark, warehouse, hhs_csv_1, hhs_csv_2, tmp_path, monkeypatch
):
    """A table write that lands its files and then fails (a crash in
    job commit) fails the whole load, whichever of the load's writes it
    hits: no table shows any of the load's rows, and the retry reports
    what an uninterrupted load reports (load_hhs.py:148, one
    transaction per file)."""
    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from health_data_transformation_spark.catalog import Warehouse
    from health_data_transformation_spark.schemas import TABLE_SCHEMAS

    def contents(wh):
        return {t: sorted(map(tuple, wh.read(t).collect())) for t in TABLE_SCHEMAS}

    uninterrupted = Warehouse(spark, str(tmp_path / "uninterrupted"))
    load_hhs(spark, hhs_csv_1, uninterrupted)
    want = load_hhs(spark, hhs_csv_2, uninterrupted)

    load_hhs(spark, hhs_csv_1, warehouse)
    write = DataFrameWriter.parquet
    for k in (1, 2, 3):  # each of the load's three table writes
        before = contents(warehouse)
        calls = []

        def write_then_fail(self, path, *args, **kwargs):
            write(self, path, *args, **kwargs)
            calls.append(path)
            if len(calls) == k:
                raise RuntimeError("injected fault after the write")

        monkeypatch.setattr(DataFrameWriter, "parquet", write_then_fail)
        with pytest.raises(RuntimeError, match="injected fault"):
            load_hhs(spark, hhs_csv_2, warehouse)
        monkeypatch.undo()
        assert contents(warehouse) == before

    # the beds write fails while the locations write (run concurrently
    # with it) is still in flight: the locations write finishes, and
    # its data goes with the rest of the load's
    before = contents(warehouse)
    beds_failed = threading.Event()

    def fail_beds_during_locations(self, path, *args, **kwargs):
        if "/hospital_locations/" in path:
            assert beds_failed.wait(60), "the two appends did not overlap"
        elif "/hospital_bed_information/" in path:
            try:
                write(self, path, *args, **kwargs)
                raise RuntimeError("injected fault after the write")
            finally:
                beds_failed.set()
        write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", fail_beds_during_locations)
    with pytest.raises(RuntimeError, match="injected fault"):
        load_hhs(spark, hhs_csv_2, warehouse)
    monkeypatch.undo()
    assert contents(warehouse) == before
    for t in ("hospital_locations", "hospital_bed_information"):
        assert unpublished_commits(warehouse, t) == set()
    assert counts(load_hhs(spark, hhs_csv_2, warehouse)) == counts(want)
    assert contents(warehouse) == contents(uninterrupted)


def test_failed_publish_discards_the_unpublished(
    spark, warehouse, hhs_csv_1, monkeypatch
):
    """A load whose second publish fails keeps the first table
    committed and removes what it wrote for the other tables."""
    import os

    import pytest

    from health_data_transformation_spark.snapshots import SnapshotTable

    publish = SnapshotTable._publish

    def publish_then_fail(self, *args, **kwargs):
        if self.root != warehouse.path("hospitals"):
            raise OSError("injected publish fault")
        return publish(self, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "_publish", publish_then_fail)
    with pytest.raises(OSError, match="injected publish fault"):
        load_hhs(spark, hhs_csv_1, warehouse)
    monkeypatch.undo()
    assert warehouse.table("hospitals").current_version() == 1
    assert not os.path.exists(warehouse.path("hospital_locations"))
    assert not os.path.exists(warehouse.path("hospital_bed_information"))
    with pytest.raises(RuntimeError, match="inside Warehouse.load"):
        warehouse.append_idempotent(warehouse.read("hospitals"), "hospitals")


def test_compact_preserves_contents(spark, warehouse, hhs_csv_1, hhs_csv_2):
    load_hhs(spark, hhs_csv_1, warehouse)
    load_hhs(spark, hhs_csv_2, warehouse)
    before = sorted(
        tuple(r) for r in warehouse.read("hospital_bed_information").collect()
    )
    import glob
    import os

    files_before = len(
        glob.glob(
            os.path.join(warehouse.path("hospital_bed_information"), "**", "*.parquet"),
            recursive=True,
        )
    )
    table = warehouse.table("hospital_bed_information")
    table.compact()
    n_files = sum(
        len(glob.glob(os.path.join(d, "*.parquet")))
        for d in table.manifest(table.current_version())["dirs"]
    )
    after = sorted(
        tuple(r) for r in warehouse.read("hospital_bed_information").collect()
    )
    assert after == before
    assert n_files <= files_before
    # idempotent append still works post-compaction
    report = load_hhs(spark, hhs_csv_2, warehouse)
    assert report.table_rows_added["hospital_bed_information"] == 0


def test_incremental_rollup_refresh(spark, warehouse, hhs_csv_1, hhs_csv_2, tmp_path):
    """Continuous-aggregate maintenance: each load refreshes only the
    collection_weeks it touched; untouched rollup partitions keep their
    files (and contents equal a full recompute)."""
    import glob
    import os

    import pyspark.sql.functions as F

    from health_data_transformation_spark.operators.rollup import (
        refresh_rollup,
        touched_partitions,
    )

    rollup_path = str(tmp_path / "rollup_weekly_beds")

    def weekly_agg(df):
        return df.groupBy("collection_week").agg(
            F.count("*").alias("n_hospitals"),
            F.sum(F.col("total_icu_beds_7_day_avg").cast("decimal(18,2)"))
            .cast("double")
            .alias("icu_beds"),
        )

    def refresh_after(load_report_weeks):
        fact = warehouse.read("hospital_bed_information")
        return refresh_rollup(
            fact, rollup_path, "collection_week", load_report_weeks, weekly_agg
        )

    load_hhs(spark, hhs_csv_1, warehouse)
    fact1 = warehouse.read("hospital_bed_information")
    refresh_after(touched_partitions(fact1, "collection_week"))
    first_files = {
        p for p in glob.glob(os.path.join(rollup_path, "*", "*.parquet"))
    }
    mtimes = {p: os.path.getmtime(p) for p in first_files}

    # second load touches only 2022-10-07 (H1 re-delivery is deduped away)
    load_hhs(spark, hhs_csv_2, warehouse)
    import datetime as dt

    refresh_after([dt.date(2022, 10, 7)])

    # untouched week partitions were not rewritten
    for p, m in mtimes.items():
        if "2022-10-07" not in p and os.path.exists(p):
            assert os.path.getmtime(p) == m

    # rollup equals a full recompute of the fact table
    full = {
        (str(r["collection_week"]), r["n_hospitals"], r["icu_beds"])
        for r in weekly_agg(warehouse.read("hospital_bed_information")).collect()
    }
    stored = {
        (str(r["collection_week"]), r["n_hospitals"], r["icu_beds"])
        for r in spark.read.parquet(rollup_path)
        .select("collection_week", "n_hospitals", "icu_beds")
        .collect()
    }
    assert stored == full


def test_load_hhs_header_only_file(spark, warehouse, tmp_path):
    """An empty delivery (header, no rows) is a clean no-op load."""
    from tests.conftest import HHS_HEADER, write_lines

    path = write_lines(str(tmp_path / "empty.csv"), [HHS_HEADER])
    report = load_hhs(spark, path, warehouse)
    assert report.input_rows == 0
    assert report.invalid_rows == 0
    assert all(v == 0 for v in report.table_rows_added.values())


def test_load_hhs_all_invalid_file(spark, warehouse, tmp_path):
    """A file where every row fails validation quarantines everything
    and appends nothing."""
    from tests.conftest import HHS_HEADER, write_lines

    rows = [
        HHS_HEADER,
        # negative metric -> quarantined
        'B1,Bad One,TX,1 St,Austin,78701,48453,"POINT (-97.7 30.3)",'
        "2022-09-23,-1,1,1,1,1,1,1,1,x",
        # null hospital_pk -> quarantined
        ',No Key,TX,2 St,Austin,78701,48453,"POINT (-97.7 30.3)",'
        "2022-09-23,1,1,1,1,1,1,1,1,x",
    ]
    path = write_lines(str(tmp_path / "bad.csv"), rows)
    report = load_hhs(spark, path, warehouse)
    assert report.input_rows == 2
    assert report.invalid_rows == 2
    assert report.table_rows_added["hospital_bed_information"] == 0
    assert warehouse.table("hospital_bed_information").current_version() == 0


def test_warehouse_scan_prunes_partitions(spark, warehouse, hhs_csv_1):
    """A collection_week filter on the partitioned fact table must reach
    the scan as a partition filter (pruning, not post-scan filtering)."""
    import datetime as dt

    load_hhs(spark, hhs_csv_1, warehouse)
    df = warehouse.read("hospital_bed_information").filter(
        F.col("collection_week") == dt.date(2022, 9, 23)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the week predicate is a partition filter on the scan, so only the
    # matching leaf directory is read
    scan = next(line for line in plan.split("\n") if "FileScan" in line)
    partition_filters = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "2022-09-23" in partition_filters
    assert df.count() == 3  # H1, H2, H3 for that week


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """A selective filter on the DIM side of a join must prune the
    partitioned FACT side at runtime (DPP) — the fact filter is not
    known until the dim is evaluated, so static PartitionFilters can't
    do it; the plan must carry a dynamicpruning subquery on the
    partition column.  This is the mechanism that keeps a 100 TB
    date-partitioned fact from full-scanning when joined to a
    filtered calendar/dim table."""
    fact_dir = str(tmp_path / "fact")
    fact = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 10).alias("day_bucket"),
        (F.col("id") * 3).alias("v"),
    )
    fact.write.partitionBy("day_bucket").parquet(fact_dir)
    dim = spark.range(10).select(
        F.col("id").alias("day_bucket"),
        (F.col("id") % 2 == 0).alias("keep"),
    )
    f = spark.read.parquet(fact_dir)
    joined = f.join(dim.filter(F.col("keep")), "day_bucket").select(
        F.sum("v").alias("s")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    [row] = joined.collect()
    expected = sum(i * 3 for i in range(1000) if (i % 10) % 2 == 0)
    assert row["s"] == expected


def test_loads_and_rollup_take_counts_from_their_writes(
    spark, warehouse, hhs_csv_1, cms_csv_1, tmp_path, monkeypatch
):
    """Every count a load reports (and a rollup refresh returns) is an
    observation on a write it makes anyway: with ``DataFrame.count``
    made to raise, the numbers are still right."""
    import datetime as dt

    from pyspark.sql.classic.dataframe import DataFrame

    from health_data_transformation_spark.operators.rollup import refresh_rollup

    def no_count(self):
        raise AssertionError("a second execution ran to count rows")

    monkeypatch.setattr(DataFrame, "count", no_count)

    hhs = load_hhs(spark, hhs_csv_1, warehouse)
    assert (hhs.input_rows, hhs.invalid_rows, hhs.duplicate_rows) == (6, 1, 1)
    assert hhs.table_rows_added == {
        "hospitals": 3, "hospital_locations": 3, "hospital_bed_information": 4,
    }
    cms = load_quality(spark, cms_csv_1, "2022-10-01", warehouse)
    assert (cms.input_rows, cms.invalid_rows, cms.duplicate_rows) == (5, 0, 1)
    assert cms.table_rows_added == {"hospital_quality_information": 4}
    again = load_hhs(spark, hhs_csv_1, warehouse)
    assert (again.input_rows, again.invalid_rows, again.duplicate_rows) == (6, 1, 5)
    assert set(again.table_rows_added.values()) == {0}

    n = refresh_rollup(
        warehouse.read("hospital_bed_information"),
        str(tmp_path / "rollup"),
        "collection_week",
        [dt.date(2022, 9, 23), dt.date(2022, 9, 30)],
        lambda df: df.groupBy("collection_week").agg(F.count("*").alias("n")),
    )
    assert n == 2


def count_main_jvm_calls(spark, monkeypatch) -> list[int]:
    """A live count, in ``[0]``, of the driver->JVM (py4j) calls the
    calling thread makes from here on."""
    client = spark.sparkContext._gateway._gateway_client
    send, calls, me = client.send_command, [0], threading.get_ident()

    def counting(*args, **kwargs):
        calls[0] += threading.get_ident() == me
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    return calls


def test_load_plans_build_in_few_jvm_calls(spark, hhs_csv_1, cms_csv_1, monkeypatch):
    """Building a load's frames, from the read through the split to the
    table projections, with no action, makes a few hundred driver->JVM
    calls (~170 for HHS, ~150 for CMS): every step is one ``selectExpr``
    over SQL text, where a ``Column`` per field and per rule (each one
    records its call site) would make thousands."""
    from health_data_transformation_spark import ingest
    from health_data_transformation_spark.operators.cleaning import stamp_literal
    from health_data_transformation_spark.sources.csv import read_cms_csv, read_hhs_csv

    calls = count_main_jvm_calls(spark, monkeypatch)

    def built(plan) -> int:
        calls[0] = 0
        split, _ = plan()
        n = calls[0]
        split.flagged.unpersist()
        return n

    hhs = built(lambda: ingest.hhs_plan(read_hhs_csv(spark, hhs_csv_1)))
    cms = built(lambda: ingest.quality_plan(stamp_literal(
        read_cms_csv(spark, cms_csv_1), "data_date", "2022-10-01", "date"
    )))
    assert hhs < 400 and cms < 300, (hhs, cms)


def test_loads_that_add_no_rows_add_no_files(
    spark, warehouse, hhs_csv_1, cms_csv_1, tmp_path
):
    """A header-only first load and a re-delivered file leave the file
    listing of every table dir unchanged."""
    import os

    from tests.conftest import HHS_HEADER, write_lines

    from health_data_transformation_spark.schemas import TABLE_SCHEMAS

    def listing():
        return {
            t: sorted(
                os.path.relpath(os.path.join(d, f), warehouse.path(t))
                for d, _, files in os.walk(warehouse.path(t))
                for f in files
            )
            for t in TABLE_SCHEMAS
        }

    empty = listing()
    header_only = write_lines(str(tmp_path / "empty.csv"), [HHS_HEADER])
    load_hhs(spark, header_only, warehouse)
    assert listing() == empty
    assert not any(os.path.exists(warehouse.path(t)) for t in TABLE_SCHEMAS)

    load_hhs(spark, hhs_csv_1, warehouse)
    load_quality(spark, cms_csv_1, "2022-10-01", warehouse)
    loaded = listing()
    load_hhs(spark, hhs_csv_1, warehouse)
    load_quality(spark, cms_csv_1, "2022-10-01", warehouse)
    assert listing() == loaded


# -- weekly loads against a history longer than Spark's parallel
# partition discovery threshold (32 paths) --------------------------------

HISTORY_WEEKS = [dt.date(2022, 1, 7) + dt.timedelta(weeks=i) for i in range(34)]


def hhs_rows(rows) -> list[str]:
    """HHS lines for (hospital_pk, collection_week, adult beds) rows."""
    from tests.conftest import HHS_HEADER

    return [HHS_HEADER] + [
        f'{pk},Hospital {pk},PA,1 Main St,Pittsburgh,15213,42003,'
        f'"POINT (-79.9 40.4)",{week},{beds},10,50,5,20,10,8,3,x'
        for pk, week, beds in rows
    ]


def load_rows(spark, warehouse, tmp_path, name, rows):
    from tests.conftest import write_lines

    return load_hhs(spark, write_lines(str(tmp_path / name), hhs_rows(rows)), warehouse)


def load_history(spark, warehouse, tmp_path, weeks=HISTORY_WEEKS):
    """H1 and H2 in every week of ``weeks``: one leaf per week."""
    load_rows(
        spark, warehouse, tmp_path, "history.csv",
        [(pk, w, 100) for w in weeks for pk in ("H1", "H2")],
    )


class ParquetReads:
    """Spy on the paths every ``spark.read...parquet`` call hands Spark,
    one tuple per call in ``calls``."""

    def __init__(self, monkeypatch):
        from pyspark.sql.readwriter import DataFrameReader

        self.calls: list[tuple[str, ...]] = []
        read = DataFrameReader.parquet

        def spy(reader, *paths, **kwargs):
            self.calls.append(paths)
            return read(reader, *paths, **kwargs)

        monkeypatch.setattr(DataFrameReader, "parquet", spy)

    def under(self, root: str) -> list[str]:
        return [p for c in self.calls for p in c if p.startswith(root + os.sep)]


def stage_task_counts(spark, run) -> list[int]:
    """Tasks of every stage the jobs launched by ``run()`` ran."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup())
    run()
    bus.waitUntilEmpty()
    return [
        tracker.getStageInfo(sid).numTasks
        for jid in set(tracker.getJobIdsForGroup()) - before
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid) is not None
    ]


def test_new_week_load_probes_no_stored_week(
    spark, warehouse, tmp_path, monkeypatch
):
    """A new week's load reads no leaf of the bed table: the probe has
    no stored leaf of the batch's week to read, so Spark lists none of
    the other weeks' leaves (past 32 paths that listing is a job of one
    task per leaf)."""
    load_history(spark, warehouse, tmp_path)
    beds = warehouse.table("hospital_bed_information")
    n_leaves = len(beds.manifest(beds.current_version())["dirs"])
    assert n_leaves == len(HISTORY_WEEKS) > 32

    reads = ParquetReads(monkeypatch)
    new_week = HISTORY_WEEKS[-1] + dt.timedelta(weeks=1)
    reports = []
    tasks = stage_task_counts(spark, lambda: reports.append(load_rows(
        spark, warehouse, tmp_path, "new_week.csv",
        [("H1", new_week, 1), ("H2", new_week, 2)],
    )))
    assert reports[0].table_rows_added == {
        "hospitals": 0, "hospital_locations": 0, "hospital_bed_information": 2,
    }
    assert reads.under(beds.root) == []
    assert tasks and max(tasks) < n_leaves


def test_batch_over_a_stored_and_a_new_week(spark, tmp_path, monkeypatch):
    """A two-week batch whose first week is stored probes only that
    week's leaves, adds exactly the absent keys, and reports what a
    warehouse holding just the stored week reports."""
    from health_data_transformation_spark.catalog import Warehouse

    stored, new_week = HISTORY_WEEKS[5], HISTORY_WEEKS[-1] + dt.timedelta(weeks=1)
    batch = [
        ("H1", stored, 999),  # already stored: first wins
        ("H3", stored, 30),
        ("H1", new_week, 1),
        ("H2", new_week, 2),
    ]
    fresh = Warehouse(spark, str(tmp_path / "fresh"))
    load_history(spark, fresh, tmp_path, weeks=[stored])
    want = load_rows(spark, fresh, tmp_path, "batch.csv", batch)

    long = Warehouse(spark, str(tmp_path / "long"))
    load_history(spark, long, tmp_path)
    beds = long.table("hospital_bed_information")
    reads = ParquetReads(monkeypatch)
    got = load_rows(spark, long, tmp_path, "batch.csv", batch)
    monkeypatch.undo()
    assert counts(got) == counts(want)
    assert got.table_rows_added["hospital_bed_information"] == 3
    probed = reads.under(beds.root)
    assert probed and all(f"_pt={stored}" in p for p in probed)
    rows = {
        (r.hospital_fk, r.collection_week): r.all_adult_hospital_beds_7_day_avg
        for r in long.read("hospital_bed_information").collect()
    }
    assert len(rows) == 2 * len(HISTORY_WEEKS) + 3
    assert rows[("H1", stored)] == 100
    assert {k for k in rows if k[1] == new_week or k[0] == "H3"} == {
        ("H3", stored), ("H1", new_week), ("H2", new_week),
    }


def test_null_partition_key_raises_and_leaves_no_dir(spark, warehouse, tmp_path):
    """A NULL collection_week cannot name a leaf: the append raises
    ValueError and the table keeps no dir of it."""
    import pytest

    load_history(spark, warehouse, tmp_path)
    beds = warehouse.table("hospital_bed_information")
    version = beds.current_version()
    bad = warehouse.read("hospital_bed_information").limit(1).withColumn(
        "collection_week", F.lit(None).cast("date")
    )
    with pytest.raises(ValueError, match="NULL"):
        with warehouse.load():
            warehouse.append_idempotent(bad, "hospital_bed_information")
    assert beds.current_version() == version
    assert unpublished_commits(warehouse, "hospital_bed_information") == set()


def test_partitioned_appends_make_few_jvm_calls(spark, warehouse, tmp_path, monkeypatch):
    """A partitioned ``append_idempotent`` inside ``Warehouse.load()``
    makes a bounded number of main-thread driver->JVM calls, its jobs
    included, for a new week (no probe) and for a re-delivered week
    (a probe of its stored leaf): its projections and observations are
    SQL text, and its partition keys are checked once, on the write."""
    from tests.conftest import write_lines

    from health_data_transformation_spark import ingest
    from health_data_transformation_spark.sources.csv import read_hhs_csv

    stored = HISTORY_WEEKS[:2]
    load_history(spark, warehouse, tmp_path, weeks=stored)
    calls = count_main_jvm_calls(spark, monkeypatch)

    def append_beds(name, rows) -> tuple[int, int]:
        raw = read_hhs_csv(spark, write_lines(str(tmp_path / name), hhs_rows(rows)))
        split, tables = ingest.hhs_plan(raw)
        with warehouse.load():
            calls[0] = 0
            added = warehouse.append_idempotent(
                tables["hospital_bed_information"], "hospital_bed_information"
            )
            made = calls[0]
        split.flagged.unpersist()
        return added, made

    new_week = HISTORY_WEEKS[-1] + dt.timedelta(weeks=1)
    added, new = append_beds("new_week.csv", [("H1", new_week, 1), ("H2", new_week, 2)])
    assert added == 2
    added, again = append_beds("again.csv", [(pk, stored[1], 100) for pk in ("H1", "H2")])
    assert added == 0
    assert new < 150 and again < 200, (new, again)


def test_partitioned_delete_rewrite_reads_only_touched_leaves(
    spark, warehouse, tmp_path, monkeypatch
):
    """A key-frame delete on the bed table finds its matches with one
    scan of the table, then hands Spark only the leaves of the weeks
    that hold them for the rewrite."""
    load_history(spark, warehouse, tmp_path, weeks=HISTORY_WEEKS[:4])
    beds = warehouse.table("hospital_bed_information")
    before = beds.manifest(beds.current_version())
    week = HISTORY_WEEKS[2]
    keys = spark.createDataFrame([("H1", week)], "hospital_fk string, collection_week date")
    reads = ParquetReads(monkeypatch)
    assert warehouse.delete_keys(
        "hospital_bed_information", keys, ["hospital_fk", "collection_week"]
    ) == 1
    monkeypatch.undo()
    scan, *rewrite = reads.calls
    assert sorted(scan) == sorted(before["dirs"])
    assert rewrite == [tuple(before["partitions"][str(week)])]
    after = {
        (r.hospital_fk, r.collection_week)
        for r in warehouse.read("hospital_bed_information").collect()
    }
    assert after == {(pk, w) for w in HISTORY_WEEKS[:4] for pk in ("H1", "H2")} - {("H1", week)}


def test_partitioned_append_requires_partition_columns_among_keys(
    spark, warehouse, tmp_path
):
    """An append whose keys omit the bed table's partition column
    raises ValueError and publishes nothing."""
    import pytest

    load_history(spark, warehouse, tmp_path, weeks=HISTORY_WEEKS[:2])
    beds = warehouse.table("hospital_bed_information")
    version = beds.current_version()
    batch = warehouse.read("hospital_bed_information")
    with pytest.raises(ValueError, match="partition column.*among the match keys"):
        with warehouse.load():
            warehouse.append_idempotent(batch, "hospital_bed_information", keys=["hospital_fk"])
    assert beds.current_version() == version
    assert unpublished_commits(warehouse, "hospital_bed_information") == set()
