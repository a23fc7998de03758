"""Explicit schemas for the hospital data model.

Mirrors /root/reference/design_table_schema.ipynb cells 0-3 and the
loader coercions (SURVEY.md §1.1-1.2, FIXTURES.md F1-F3).  Schemas are
always explicit on read — never inferSchema in a production path (a
schema inference pass is a full extra scan at 100 TB, and inference
drift silently changes downstream types).

SERIAL surrogate keys are dropped: the natural keys
(hospital_pk; hospital_fk+collection_week; facility_id+data_date)
are the identity, and Spark needs no auto-increment.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

#: the 8 weekly bed-utilization metrics (design_table_schema.ipynb cell 2,
#: validated non-negative at load_hhs.py:104-127)
BED_METRIC_COLS = [
    "all_adult_hospital_beds_7_day_avg",
    "all_pediatric_inpatient_beds_7_day_avg",
    "all_adult_hospital_inpatient_bed_occupied_7_day_coverage",
    "all_pediatric_inpatient_bed_occupied_7_day_avg",
    "total_icu_beds_7_day_avg",
    "icu_beds_used_7_day_avg",
    "inpatient_beds_used_covid_7_day_avg",
    "staffed_icu_adult_patients_confirmed_covid_7_day_avg",
]

#: HHS sentinel for suppressed values (load_hhs.py:49)
HHS_SENTINEL = -999999.0

_hhs_fields = [
    StructField("hospital_pk", StringType()),
    StructField("hospital_name", StringType()),
    StructField("state", StringType()),
    StructField("address", StringType()),
    StructField("city", StringType()),
    StructField("zip", StringType()),
    StructField("fips_code", StringType()),
    StructField("geocoded_hospital_address", StringType()),
    StructField("collection_week", StringType()),  # parsed to date in ingest
] + [StructField(c, DoubleType()) for c in BED_METRIC_COLS]

#: raw weekly HHS CSV (FIXTURES.md F1; extra file columns are ignored by
#: selecting only these 17)
HHS_RAW_SCHEMA = StructType(_hhs_fields)

#: raw CMS quality CSV — original space-containing headers, all strings
#: (load_quality.py:98-99 reads dtype=object)
CMS_RAW_COLUMNS = [
    "Facility ID",
    "Hospital Type",
    "Hospital Ownership",
    "Emergency Services",
    "Hospital overall rating",
]
CMS_RAW_SCHEMA = StructType([StructField(c, StringType()) for c in CMS_RAW_COLUMNS])

# --- warehouse tables (FIXTURES.md F3) -------------------------------------

HOSPITALS_SCHEMA = StructType(
    [
        StructField("hospital_pk", StringType(), nullable=False),
        StructField("hospital_name", StringType(), nullable=False),
    ]
)

HOSPITAL_LOCATIONS_SCHEMA = StructType(
    [
        StructField("hospital_fk", StringType(), nullable=False),
        StructField("state", StringType()),
        StructField("address", StringType()),
        StructField("city", StringType()),
        StructField("zip", StringType()),
        StructField("fips_code", StringType()),
        StructField("geocoded_hospital_address", StringType()),
    ]
)

HOSPITAL_BED_INFORMATION_SCHEMA = StructType(
    [
        StructField("hospital_fk", StringType(), nullable=False),
        StructField("collection_week", DateType(), nullable=False),
    ]
    + [StructField(c, DoubleType()) for c in BED_METRIC_COLS]
)

HOSPITAL_QUALITY_INFORMATION_SCHEMA = StructType(
    [
        StructField("facility_id", StringType(), nullable=False),
        StructField("hospital_type", StringType()),
        StructField("hospital_ownership", StringType()),
        StructField("emergency_services", BooleanType()),
        StructField("hospital_overall_rating", DoubleType()),
        StructField("data_date", DateType(), nullable=False),
    ]
)

#: physical layout: partition keys per warehouse table — queries filter on
#: collection_week / data_date (Reporting.py:30,38,149,188,218,248), so
#: these become partition-pruned scans
TABLE_SCHEMAS = {
    "hospitals": HOSPITALS_SCHEMA,
    "hospital_locations": HOSPITAL_LOCATIONS_SCHEMA,
    "hospital_bed_information": HOSPITAL_BED_INFORMATION_SCHEMA,
    "hospital_quality_information": HOSPITAL_QUALITY_INFORMATION_SCHEMA,
}

TABLE_PARTITIONS = {
    "hospitals": [],
    "hospital_locations": [],
    "hospital_bed_information": ["collection_week"],
    "hospital_quality_information": ["data_date"],
}

TABLE_KEYS = {
    "hospitals": ["hospital_pk"],
    "hospital_locations": ["hospital_fk"],
    "hospital_bed_information": ["hospital_fk", "collection_week"],
    "hospital_quality_information": ["facility_id", "data_date"],
}

# --- testdata tables (TESTDATA.md) ----------------------------------------

#: the ten testdata parquet tables, declared exactly as the files store
#: them and in file column order.  The date/time columns are INT64
#: TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
#: TIMESTAMP_NTZ.  tests/test_testdata_schemas.py pins these against
#: the files: a declared read fills a missing column with NULLs instead
#: of failing, so that test is what catches drift.
TESTDATA_SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
    "c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
    "p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
    "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, "
    "l_shipdate TIMESTAMP_NTZ",
    "events": "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
