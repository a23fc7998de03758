"""Local differential harness mimicking the driver's correctness gate.

Runs every `__spark_entry__.queries()` entry on Spark and its
`oracle_sql()` twin on DuckDB at the same scale factor, then compares:
row count, sorted column names, dtype compatibility, and an
order-insensitive multiset of canonicalized values.

Usage: python tools/check_oracle.py [--json=PATH] [sf_dir] [query ...]

``--json=PATH`` additionally writes a driver-style per-query artifact
(rows / schema / match flags / seconds) so each round can commit the
full-registry correctness evidence (the driver itself only re-checks a
fixed 50-query subset).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_value(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return repr(v)
    if hasattr(v, "item"):  # numpy scalar
        return canon_value(v.item())
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    return v


def canon_frame(pdf):
    pdf = pdf[sorted(pdf.columns)]
    rows = [tuple(canon_value(v) for v in row) for row in pdf.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def main():
    argv = [a for a in sys.argv[1:] if not a.startswith("--json")]
    json_out = next(
        (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--json=")),
        None,
    )
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # driver-faithful mode: a plain session with NO engine confs —
        # every runtime compat requirement must self-apply inside the
        # query functions (via sources.tables.ensure_compat)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check-oracle-vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from health_data_transformation_spark.session import get_spark

        spark = get_spark(app_name="check-oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            report[name] = {"err": f"spark: {type(e).__name__}: {str(e)[:200]}"}
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        spark_secs = time.time() - t0
        if name not in oracles:
            report[name] = {
                "rows": len(sdf),
                "schema": {c: str(sdf[c].dtype) for c in sdf.columns},
                "oracle": False,
                "sec": round(spark_secs, 2),
            }
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{spark_secs:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            report[name] = {"err": f"duckdb: {type(e).__name__}: {str(e)[:200]}"}
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            s_rows, o_rows = canon_frame(sdf), canon_frame(odf)
            if s_rows != o_rows:
                diff = [
                    (a, b) for a, b in zip(s_rows, o_rows) if a != b
                ][:3]
                extra = abs(len(s_rows) - len(o_rows))
                problems.append(f"values differ (first diffs: {diff}, len-delta {extra})")
            sd = {c: str(sdf[c].dtype) for c in sdf.columns}
            od = {c: str(odf[c].dtype) for c in odf.columns}
            dt = {c: (sd[c], od[c]) for c in sd if sd[c] != od[c]}
            if dt:
                problems.append(f"dtype mismatch {dt}")
        report[name] = {
            "rows": len(sdf),
            "oracle_rows": len(odf),
            "schema": {c: str(sdf[c].dtype) for c in sdf.columns},
            "rows_match": len(sdf) == len(odf),
            "schema_match": sorted(sdf.columns) == sorted(odf.columns),
            "values_match": not problems,
            "sec": round(spark_secs, 2),
        }
        if problems:
            failures.append(name)
            report[name]["problems"] = problems
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(sdf)} rows [{spark_secs:.1f}s]")

    if json_out:
        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(report),
                    "n_fail": len(failures),
                    "queries": report,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_out}")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match the oracle")


if __name__ == "__main__":
    main()
