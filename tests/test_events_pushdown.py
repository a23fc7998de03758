"""load_events_range: the range filter on the stored ts column must
(a) reach the parquet scan as a pushed filter and (b) select exactly the
same rows as filtering the converted timestamp column (SCALE.md §2's
wart, fixed)."""

from __future__ import annotations

import pyspark.sql.functions as F

from health_data_transformation_spark.sources.tables import (
    load_events_range,
    load_table,
)

SF = "/root/testdata/sf0.001"
LO, HI = "2024-01-08", "2024-01-15"


def _formatted(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_range_filter_is_pushed_to_scan(spark):
    df = load_events_range(spark, SF, lo=LO, hi=HI)
    plan = _formatted(spark, df)
    assert "GreaterThanOrEqual(ts," in plan
    assert "LessThan(ts," in plan


def test_range_equals_post_conversion_filter(spark):
    ev = load_table(spark, SF, "events")
    ts_type = dict(ev.dtypes)["ts"]
    lit = lambda v: F.lit(v).cast(ts_type)  # noqa: E731

    for lo_inc, hi_inc in [(True, False), (False, True), (True, True), (False, False)]:
        fast = load_events_range(spark, SF, lo=LO, hi=HI, lo_inclusive=lo_inc, hi_inclusive=hi_inc)
        lo_cond = F.col("ts") >= lit(LO) if lo_inc else F.col("ts") > lit(LO)
        hi_cond = F.col("ts") <= lit(HI) if hi_inc else F.col("ts") < lit(HI)
        slow = ev.filter(lo_cond & hi_cond)
        assert fast.count() == slow.count()
        assert fast.exceptAll(slow).count() == 0
