"""SparkSession construction + runtime-compat settings.

Design notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and broadcast demotion/promotion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is a *starting* parallelism; AQE
  coalesces down.  On a real cluster this would be ~2-3x total cores.
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
        # Floor for AQE partition coalescing: Spark's 1m default, with
        # an env override.  A 128k default shipped briefly mid-r12: on
        # a host-steal-loaded box it spread the CPU-dense small-byte
        # stages (pair expansion, register hashing) and won its A/Bs,
        # but on an idle local[32] the interleaved re-adjudication
        # inverted (q313 min 9.1 s at 1m vs 12.2 s at 128k; 7 of 9
        # CPU-dense queries worse) and two same-code full benches read
        # 504 s (1m) vs 526 s (128k), the 1m run on the slower canary
        # window — the extra small tasks cost more in scheduling than
        # they buy in spread when the cores are real.  Loaded/cluster
        # profiles can still lower it via the env knob.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "1m"),
        )
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
