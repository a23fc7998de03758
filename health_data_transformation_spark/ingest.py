"""Batch ingest pipelines: the Spark-first replacements for
/root/reference/load_hhs.py and load_quality.py.

Reference lifecycle (load_hhs.py:35-167): pandas scan -> per-row loop
with up to 3 dup-probe SELECTs + 3 INSERTs per row (network round-trips
per row) -> single commit -> quarantine CSV.

Engine lifecycle: one pass per target table —
  scan (explicit schema) -> normalize -> validate-split (each row
  flagged once into a cached, observed frame) -> per table: in-batch
  dedup (deterministic first-wins) -> anti-join vs target ->
  snapshot append; the appends publish together (one transaction per
  file load, load_hhs.py:148: a load that fails in any write changes
  no table, and its retry reports what an uninterrupted load would);
  then quarantine + load report.
The plan is built one ``selectExpr`` per step, over SQL text (the
typed read, each cleaning step, the split's verdicts, each table's
projection): a ``Column`` per field would cost several JVM calls each,
and a weekly load's driver time went mostly to building its plan.
No driver-side loops and no counting jobs: every count in the
LoadReport is an observation on a write the load makes anyway (the
first append fills the split's cache and yields input/invalid rows;
each append yields its own rows added; after the first, the HHS
appends run concurrently).  The whole load is a handful of Spark jobs
whose shuffle structure is independent of row count (the anti-join
probe is the only join).  On a partitioned table the probe reads the
key columns of only the stored leaves of the batch's partitions, and a
batch of new partitions (a new week) skips it, so a load costs
O(batch), not O(history).
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .catalog import Warehouse
from .functions.actions import overlap_actions
from .operators import cleaning, validate
from .schemas import BED_METRIC_COLS, HHS_SENTINEL
from .sources.csv import read_cms_csv, read_hhs_csv


#: structured logging around Spark actions (the reference logs via its
#: local logging_module, load_quality.py:7,73,145-146)
logger = logging.getLogger("health_data_transformation_spark.ingest")

HHS_RULES = validate.non_negative(BED_METRIC_COLS) + validate.not_null(
    ["hospital_pk", "hospital_name", "collection_week"]
)

#: each HHS table's projection of the valid rows
HHS_TABLES = {
    "hospitals": ["hospital_pk", "hospital_name"],
    "hospital_locations": [
        "hospital_pk AS hospital_fk", "state", "address", "city", "zip",
        "fips_code", "geocoded_hospital_address",
    ],
    "hospital_bed_information": [
        "hospital_pk AS hospital_fk", "collection_week", *BED_METRIC_COLS,
    ],
}

QUALITY_RULES = [
    validate.Rule(
        "rating_non_negative",
        "hospital_overall_rating >= 0",
        null_passing_cols=("hospital_overall_rating",),
    ),
    # a NULL data_date is quarantined: it cannot name a partition
    *validate.not_null(["facility_id", "data_date"]),
]

QUALITY_COLUMNS = [
    "facility_id", "hospital_type", "hospital_ownership",
    "emergency_services", "hospital_overall_rating", "data_date",
]


@dataclass
class LoadReport:
    """Counts the reference prints after each load (load_hhs.py:157-161,
    load_quality.py:145-146)."""

    table_rows_added: dict[str, int] = field(default_factory=dict)
    invalid_rows: int = 0
    duplicate_rows: int = 0
    input_rows: int = 0
    seconds: float = 0.0

    def log(self, source: str) -> "LoadReport":
        logger.info(
            "load=%s input_rows=%d invalid_rows=%d duplicate_rows=%d "
            "rows_added=%s seconds=%.2f",
            source, self.input_rows, self.invalid_rows, self.duplicate_rows,
            self.table_rows_added, self.seconds,
        )
        return self


def _report(
    split: validate.Split, added: dict[str, int], fact: str,
    warehouse: Warehouse, source: str, t0: float,
) -> LoadReport:
    """The load's report from its split and its appends' observed
    counts; quarantines the invalid rows.  A valid row the ``fact``
    table did not take is a duplicate."""
    report = LoadReport(table_rows_added=added, **split.counts.get)
    report.duplicate_rows = report.input_rows - report.invalid_rows - added[fact]
    if report.invalid_rows:
        warehouse.quarantine(split.invalid, source)
    report.seconds = time.time() - t0
    return report.log(source)


def load_hhs(spark: SparkSession, csv_path: str, warehouse: Warehouse) -> LoadReport:
    """Weekly HHS ingest -> hospitals, hospital_locations,
    hospital_bed_information (+ quarantine).

    Semantics preserved from the reference:
    - sentinel -999999 -> NULL              (load_hhs.py:49)
    - date parse yyyy-MM-dd                 (load_hhs.py:53)
    - negative bed metric -> row quarantined; NULL passes
                                            (load_hhs.py:104-127)
    - first-wins on every natural key: existing rows never updated
                                            (load_hhs.py:75-82,103)
    """
    return load_hhs_frame(read_hhs_csv(spark, csv_path), warehouse)


def hhs_plan(raw: DataFrame) -> tuple[validate.Split, dict[str, DataFrame]]:
    """The HHS load's frames, built without running a Spark job: the
    cleaned batch's split and each table's projection of its valid
    rows."""
    cleaned = cleaning.replace_sentinel(raw, BED_METRIC_COLS, HHS_SENTINEL)
    cleaned = cleaning.parse_dates(cleaned, ["collection_week"])
    split = validate.split_valid(cleaned, HHS_RULES)
    return split, {t: split.valid.selectExpr(*cols) for t, cols in HHS_TABLES.items()}


def load_hhs_frame(raw, warehouse: Warehouse) -> LoadReport:
    """Frame-level HHS loader: shared by the batch CSV path and the
    Structured Streaming foreachBatch path (streaming/ingest.py)."""
    t0 = time.time()
    # one input scan total: the first append fills the cached, observed
    # flagged frame (and so yields the split's counts); the other
    # appends and the quarantine read that copy
    split, tables = hhs_plan(raw)
    try:
        with warehouse.load():
            # the first append fills the split's cache (and fires its
            # counts); the other two only read that copy and are
            # independent, so they run concurrently
            added = {"hospitals": warehouse.append_idempotent(
                tables["hospitals"], "hospitals"
            )}
            added["hospital_locations"], added["hospital_bed_information"] = (
                overlap_actions([
                    lambda: warehouse.append_idempotent(
                        tables["hospital_locations"], "hospital_locations"
                    ),
                    lambda: warehouse.append_idempotent(
                        tables["hospital_bed_information"], "hospital_bed_information"
                    ),
                ])
            )
        return _report(split, added, "hospital_bed_information", warehouse, "hhs", t0)
    finally:
        split.flagged.unpersist()


def load_quality(
    spark: SparkSession, csv_path: str, data_date: str, warehouse: Warehouse
) -> LoadReport:
    """Periodic CMS quality snapshot ingest -> hospital_quality_information.

    Semantics preserved (load_quality.py:98-146):
    - header normalization (lower, spaces->underscores)  (:102)
    - 'Not Available' rating -> 0; lenient float cast    (:103-104)
    - 'Yes'/'No' -> boolean                              (:105)
    - stamp every row with the CLI data_date             (:106-107)
    - set-based duplicate check on (facility_id, data_date), first-wins
                                                          (:122-126)
    """
    raw = read_cms_csv(spark, csv_path)
    raw = cleaning.stamp_literal(raw, "data_date", data_date, "date")
    return load_quality_frame(raw, warehouse)


def quality_plan(raw: DataFrame) -> tuple[validate.Split, DataFrame]:
    """The quality load's frames, built without running a Spark job:
    the cleaned batch's split and the table's projection of its valid
    rows."""
    df = cleaning.normalize_headers(raw)
    df = cleaning.map_values(df, "hospital_overall_rating", {"Not Available": "0"})
    df = cleaning.cast_columns(df, {"hospital_overall_rating": "double"})
    df = cleaning.map_values(
        df, "emergency_services", {"Yes": True, "No": False}, otherwise="null"
    )
    df = cleaning.cast_columns(df, {"emergency_services": "boolean"})
    split = validate.split_valid(df, QUALITY_RULES)
    return split, split.valid.selectExpr(*QUALITY_COLUMNS)


def load_quality_frame(raw, warehouse: Warehouse) -> LoadReport:
    """Frame-level quality loader: ``raw`` carries the original CMS
    headers plus an attached ``data_date`` DATE column (stamped from the
    CLI arg in batch mode, derived from the landing filename in the
    streaming path, streaming/ingest.py)."""
    t0 = time.time()
    split, quality = quality_plan(raw)
    table = "hospital_quality_information"
    try:
        with warehouse.load():
            added = warehouse.append_idempotent(quality, table)
        return _report(split, {table: added}, table, warehouse, "quality", t0)
    finally:
        split.flagged.unpersist()
