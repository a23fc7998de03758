"""The declared testdata schemas (schemas.TESTDATA_SCHEMAS) against the
files, and the build layer they buy: constructing a testdata frame runs
no Spark job."""

from __future__ import annotations

import os
import uuid

import pytest
from test_events_pushdown import SF

from health_data_transformation_spark.schemas import TESTDATA_SCHEMAS
from health_data_transformation_spark.sources.tables import (
    TESTDATA_TABLES,
    load_events_range,
    load_table,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTDATA_ROOT = os.path.dirname(SF)
SF_DIRS = [
    *(os.path.join(TESTDATA_ROOT, sf) for sf in ("sf0.001", "sf0.01", "sf0.1")),
    os.path.join(REPO, "perfbench", "data", "sf0.01"),
]


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=["sf0.001", "sf0.01", "sf0.1", "perfbench"])
def test_declared_schema_matches_files(spark, sf_dir):
    """A declared read fills a missing column with NULLs and never
    looks at the file's types, so this inferred-vs-declared comparison
    (names, types, nullability and column order) is what catches drift."""
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    for name in TESTDATA_TABLES:
        path = f"{sf_dir}/{name}.parquet"
        declared = spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(path).schema
        assert spark.read.parquet(path).schema == declared, name


def test_testdata_reads_launch_no_job(spark):
    """Building testdata frames is driver-side only: no schema-inference
    job (or any other) runs before an action."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "testdata frame construction")
    try:
        frames = [load_table(spark, SF, name) for name in TESTDATA_TABLES]
        frames.append(load_events_range(spark, SF, lo="2024-01-08", hi="2024-01-15"))
        for df in frames:
            df.schema  # noqa: B018 - analysis only
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert dict(frames[TESTDATA_TABLES.index("events")].dtypes)["ts"] == "timestamp"
