"""SparkSession construction + runtime-compat settings.

Design notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and broadcast demotion/promotion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is a *starting* parallelism; AQE
  coalesces down.  On a real cluster this would be ~2-3x total cores.
- AQE's coalescing floor (``coalescePartitions.minPartitionSize``)
  stays at Spark's 1 MiB default: a 128 KiB floor lost the r12
  interleaved re-measurement on an idle local[32] (q313 min 12.2 s vs
  9.1 s, 7 of 9 CPU-dense queries worse).
- Arrow enabled for the (rare) pandas-UDF paths and fast toPandas at the
  display edge.
- Session time zone pinned to UTC: ``sources.tables`` casts the stored
  TIMESTAMP_NTZ ``events.ts`` to TIMESTAMP, which keeps wall-clock
  values only under UTC.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are safe (and required) to set at *runtime* on any session,
#: including the driver-owned one handed to ``__spark_entry__`` callables.
RUNTIME_COMPAT_CONFS = {
    # deterministic temporal semantics matching the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
}


def ensure_compat(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime-settable compat confs to a session."""
    for key, value in RUNTIME_COMPAT_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # conf not runtime-settable in this build -> rely on defaults
            pass
    return spark


def get_spark(
    app_name: str = "health-data-transformation-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32.
    """
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    return ensure_compat(builder.getOrCreate())
