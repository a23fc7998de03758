"""Tests for the bucketed range join and the applyInPandasWithState
stateful operator (both verified against naive/batch equivalents).
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

from health_data_transformation_spark.operators.rangejoin import (
    bucketed_range_join,
    prior_events_count,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_bucketed_range_join_equals_naive(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01 10:00:00")),
            (2, 10, _ts("2024-01-01 11:00:00")),
            (3, 20, _ts("2024-01-01 10:30:00")),
        ],
        "lid long, k long, lts timestamp",
    )
    right = spark.createDataFrame(
        [
            (101, 10, _ts("2024-01-01 09:40:00")),  # 20 min before lid=1
            (102, 10, _ts("2024-01-01 10:00:00")),  # exactly at lid=1 (excluded)
            (103, 10, _ts("2024-01-01 10:59:59")),  # 1s before lid=2
            (104, 20, _ts("2024-01-01 09:59:00")),  # 31 min before lid=3 (outside)
            (105, 30, _ts("2024-01-01 10:15:00")),  # wrong key
        ],
        "rid long, k long, rts timestamp",
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in bucketed_range_join(
            left, right, ["k"], "lts", "rts", -1800, 0
        ).collect()
    )
    naive = sorted(
        (r["lid"], r["rid"])
        for r in left.join(
            right,
            (left.k == right.k)
            & (right.rts >= left.lts - F.expr("INTERVAL 30 MINUTES"))
            & (right.rts < left.lts),
        ).collect()
    )
    assert got == naive == [(1, 101), (2, 103)]


def test_prior_events_count_includes_zero_anchors(spark):
    ev = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01 10:00:00"), "purchase"),
            (2, 10, _ts("2024-01-01 09:50:00"), "click"),
            (3, 10, _ts("2024-01-01 09:20:00"), "click"),  # outside 30 min
            (4, 20, _ts("2024-01-01 12:00:00"), "purchase"),  # no clicks at all
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    got = {
        r["anchor_id"]: r["n_prior"]
        for r in prior_events_count(ev, "purchase", "click", 1800).collect()
    }
    assert got == {1: 1, 4: 0}


def test_stateful_totals_equals_batch(spark):
    from health_data_transformation_spark.sources.tables import load_table
    from health_data_transformation_spark.streaming.stateful import (
        stateful_user_totals,
    )

    sf_dir = "/root/testdata/sf0.001"
    streamed = {
        r["user_id"]: (r["n"], r["total_cents"])
        for r in stateful_user_totals(spark, sf_dir).collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["total_cents"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .collect()
    }
    assert streamed == batch


def test_interval_overlap_join_equals_naive(spark):
    from health_data_transformation_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    import itertools
    import random

    rng = random.Random(7)
    a_rows = [(i, rng.randrange(0, 200), rng.randrange(1, 40)) for i in range(60)]
    b_rows = [(i, rng.randrange(0, 200), rng.randrange(1, 40)) for i in range(60)]
    a = spark.createDataFrame(
        [(i, lo, lo + span) for i, lo, span in a_rows], "a_id long, a_lo long, a_hi long"
    )
    b = spark.createDataFrame(
        [(i, lo, lo + span) for i, lo, span in b_rows], "b_id long, b_lo long, b_hi long"
    )
    got = {
        (r["a_id"], r["b_id"])
        for r in interval_overlap_join(a, b, "a_lo", "a_hi", "b_lo", "b_hi", 16).collect()
    }
    want = {
        (ia, ib)
        for (ia, alo, asp), (ib, blo, bsp) in itertools.product(a_rows, b_rows)
        if alo <= blo + bsp and blo <= alo + asp
    }
    assert got == want  # exactly once per overlapping pair, none missed
