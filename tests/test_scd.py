"""CDC / SCD2 operator tests (operators/scd.py)."""

from __future__ import annotations

import datetime as dt

from health_data_transformation_spark.operators.scd import scd2_apply, snapshot_diff


def test_snapshot_diff_classifies_changes(spark):
    old = spark.createDataFrame(
        [("H1", 4.0), ("H2", 3.0), ("H3", None), ("H4", 2.0)],
        "facility_id string, rating double",
    )
    new = spark.createDataFrame(
        [("H1", 4.0), ("H2", 5.0), ("H3", 1.0), ("H5", 2.0)],
        "facility_id string, rating double",
    )
    got = {
        r["facility_id"]: r["change_type"]
        for r in snapshot_diff(old, new, ["facility_id"], ["rating"]).collect()
    }
    # H1 unchanged -> omitted; H3 null->1.0 is a change (null-safe compare)
    assert got == {
        "H2": "changed",
        "H3": "changed",
        "H4": "deleted",
        "H5": "inserted",
    }


def _hist(spark, rows):
    return spark.createDataFrame(
        rows, "facility_id string, rating double, valid_from date, valid_to date"
    )


def test_scd2_apply_builds_history(spark):
    d1, d2, d3 = dt.date(2024, 1, 1), dt.date(2024, 2, 1), dt.date(2024, 3, 1)
    empty = _hist(spark, [])

    snap1 = spark.createDataFrame(
        [("H1", 4.0, d1), ("H2", 3.0, d1)],
        "facility_id string, rating double, data_date date",
    )
    h1 = scd2_apply(empty, snap1, ["facility_id"], ["rating"], "data_date")
    assert {(r["facility_id"], r["rating"], r["valid_from"], r["valid_to"])
            for r in h1.collect()} == {("H1", 4.0, d1, None), ("H2", 3.0, d1, None)}

    # snapshot 2: H1 changes, H2 unchanged, H3 appears
    snap2 = spark.createDataFrame(
        [("H1", 5.0, d2), ("H2", 3.0, d2), ("H3", 2.0, d2)],
        "facility_id string, rating double, data_date date",
    )
    h2 = scd2_apply(h1, snap2, ["facility_id"], ["rating"], "data_date")
    rows = {
        (r["facility_id"], r["rating"], r["valid_from"], r["valid_to"])
        for r in h2.collect()
    }
    assert rows == {
        ("H1", 4.0, d1, d2),   # closed
        ("H1", 5.0, d2, None),  # new open version
        ("H2", 3.0, d1, None),  # untouched
        ("H3", 2.0, d2, None),  # new key
    }

    # idempotent re-delivery of the same snapshot is a no-op
    h2b = scd2_apply(h2, snap2, ["facility_id"], ["rating"], "data_date")
    rows_b = {
        (r["facility_id"], r["rating"], r["valid_from"], r["valid_to"])
        for r in h2b.collect()
    }
    assert rows_b == rows

    # point-in-time query: rating as of mid-February
    asof = dt.date(2024, 2, 15)
    import pyspark.sql.functions as F

    current = h2.filter(
        (F.col("valid_from") <= F.lit(asof))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(asof)))
    )
    got = {r["facility_id"]: r["rating"] for r in current.collect()}
    assert got == {"H1": 5.0, "H2": 3.0, "H3": 2.0}

    # snapshot 3: H3 disappears (no update -> stays open; deletions are
    # modeled upstream via snapshot_diff if required)
    snap3 = spark.createDataFrame(
        [("H1", 5.0, d3), ("H2", 1.0, d3)],
        "facility_id string, rating double, data_date date",
    )
    h3 = scd2_apply(h2, snap3, ["facility_id"], ["rating"], "data_date")
    open_now = {
        r["facility_id"]: r["rating"]
        for r in h3.filter(F.col("valid_to").isNull()).collect()
    }
    assert open_now == {"H1": 5.0, "H2": 1.0, "H3": 2.0}


def test_build_quality_history_from_warehouse(spark, warehouse, cms_csv_1, tmp_path):
    """Replaying the warehouse's quality snapshots yields an SCD2 history
    whose point-in-time lookups match the snapshot rows."""
    import datetime as dt

    import pyspark.sql.functions as F

    from health_data_transformation_spark.ingest import load_quality
    from health_data_transformation_spark.operators.scd import (
        build_quality_history,
    )
    from tests.conftest import CMS_HEADER, write_lines

    load_quality(spark, cms_csv_1, "2023-01-01", warehouse)
    # second snapshot: H1's rating changes, H9 drops out (no update)
    snap2 = [
        CMS_HEADER,
        '"H1","Alpha","Acute Care Hospitals","Proprietary","Yes","1","z"',
        '"H2","Beta","Acute Care Hospitals","Government - Local","No","Not Available","z"',
        '"H3","Gamma","Critical Access Hospitals","Voluntary non-profit - Private","Yes","","z"',
    ]
    load_quality(
        spark, write_lines(str(tmp_path / "snap2.csv"), snap2), "2023-02-01", warehouse
    )

    hist = build_quality_history(warehouse)
    h1 = {
        (r["hospital_overall_rating"], r["valid_from"], r["valid_to"])
        for r in hist.filter(F.col("facility_id") == "H1").collect()
    }
    d1, d2 = dt.date(2023, 1, 1), dt.date(2023, 2, 1)
    assert h1 == {(4.0, d1, d2), (1.0, d2, None)}
    # H9 had no second-snapshot row: its version stays open
    h9 = hist.filter(F.col("facility_id") == "H9").collect()
    assert len(h9) == 1 and h9[0]["valid_to"] is None


def test_delete_keys_right_to_be_forgotten(spark, warehouse, hhs_csv_1):
    import pyspark.sql.functions as F

    from health_data_transformation_spark.ingest import load_hhs

    load_hhs(spark, hhs_csv_1, warehouse)
    beds = warehouse.read("hospital_bed_information")
    n_before = beds.count()
    assert beds.filter(F.col("hospital_fk") == "H1").count() == 2

    doomed = spark.createDataFrame([("H1",)], "hospital_fk string")
    n = warehouse.delete_keys("hospital_bed_information", doomed, ["hospital_fk"])
    assert n == 2

    after = warehouse.read("hospital_bed_information")
    assert after.filter(F.col("hospital_fk") == "H1").count() == 0
    # untouched rows survive; idempotent re-delete is a no-op
    assert after.count() == n_before - 2
    assert warehouse.delete_keys("hospital_bed_information", doomed, ["hospital_fk"]) == 0
    # the rows are physically gone: no parquet file under the table
    # holds H1 (older versions were vacuumed with the delete)
    import glob
    import os

    import pyarrow.parquet as pq

    files = glob.glob(
        os.path.join(warehouse.path("hospital_bed_information"), "**", "*.parquet"),
        recursive=True,
    )
    held = [pq.read_table(f, columns=["hospital_fk"]).column(0).to_pylist() for f in files]
    assert files and not any("H1" in fks for fks in held)
