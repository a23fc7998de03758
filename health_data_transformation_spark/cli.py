"""CLI entry points mirroring the reference's loaders and dashboard
(SURVEY.md §2.7: load_hhs.py:170-177, load_quality.py:153-158,
Reporting.py's eight display functions).

Usage:
  python -m health_data_transformation_spark.cli load-hhs <csv> --warehouse DIR
  python -m health_data_transformation_spark.cli load-quality <date> <csv> --warehouse DIR
  python -m health_data_transformation_spark.cli report <query> --warehouse DIR [params...]
  python -m health_data_transformation_spark.cli snapshot-history --root DIR/<table>
  python -m health_data_transformation_spark.cli snapshot-compact --root DIR/<table> [--target-mb N]

Every warehouse table is a snapshot table at ``<warehouse>/<table>``, so
the ``snapshot-*`` commands work on it directly.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from .catalog import Warehouse
from .session import get_spark


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="health_data_transformation_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_hhs = sub.add_parser("load-hhs", help="weekly HHS CSV ingest")
    p_hhs.add_argument("csv")
    p_hhs.add_argument("--warehouse", required=True)

    p_q = sub.add_parser("load-quality", help="periodic CMS quality CSV ingest")
    p_q.add_argument("date", help="snapshot date YYYY-MM-DD")
    p_q.add_argument("csv")
    p_q.add_argument("--warehouse", required=True)

    p_d = sub.add_parser(
        "delete", help="targeted key deletion (right-to-be-forgotten)"
    )
    p_d.add_argument("table")
    p_d.add_argument("key_col")
    p_d.add_argument("values", nargs="+", help="key values to delete")
    p_d.add_argument("--warehouse", required=True)

    p_sh = sub.add_parser(
        "snapshot-history", help="list a snapshot table's commits"
    )
    p_sh.add_argument(
        "--root", required=True,
        help="snapshot table root (a warehouse table: <warehouse>/<table>)",
    )

    p_sc = sub.add_parser(
        "snapshot-compact",
        help="OPTIMIZE: rewrite the current snapshot as one directory "
        "of ~--target-mb files (a table with no version is left as is)",
    )
    p_sc.add_argument("--root", required=True)
    p_sc.add_argument("--target-mb", type=int, default=128)

    p_sv = sub.add_parser(
        "snapshot-vacuum",
        help="GC data dirs unreachable from the retained versions",
    )
    p_sv.add_argument("--root", required=True)
    p_sv.add_argument("--retain-last", type=int, default=1)

    p_r = sub.add_parser("report", help="run a dashboard query")
    p_r.add_argument(
        "query",
        choices=["q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8a", "q8b"],
    )
    p_r.add_argument("--warehouse", required=True)
    p_r.add_argument("--week", help="collection week YYYY-MM-DD (q1-q4, q6)")
    p_r.add_argument("--ownership", help="hospital ownership (q8a)")
    p_r.add_argument("--date", help="quality snapshot date (q8b)")

    args = parser.parse_args(argv)
    spark = get_spark(app_name=f"hdt-cli-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd.startswith("snapshot-"):
        from .snapshots import SnapshotTable

        t0 = time.time()
        t = SnapshotTable(spark, args.root)
        if args.cmd == "snapshot-history":
            print(json.dumps({"history": t.history()}))
        elif args.cmd == "snapshot-compact":
            v = t.compact(target_file_mb=args.target_mb)
            print(json.dumps({"compact": args.root,
                              "seconds": round(time.time() - t0, 2),
                              "version": v}))
        else:
            removed = t.vacuum(retain_last=args.retain_last)
            print(json.dumps({"vacuum": args.root,
                              "seconds": round(time.time() - t0, 2),
                              "removed_dirs": len(removed)}))
        spark.stop()
        return 0

    wh = Warehouse(spark, args.warehouse)

    t0 = time.time()
    if args.cmd == "load-hhs":
        from .ingest import load_hhs

        report = load_hhs(spark, args.csv, wh)
        print(json.dumps({"load": "hhs", "seconds": round(time.time() - t0, 2),
                          "input_rows": report.input_rows,
                          "invalid_rows": report.invalid_rows,
                          "duplicate_rows": report.duplicate_rows,
                          "rows_added": report.table_rows_added}))
    elif args.cmd == "load-quality":
        from .ingest import load_quality

        report = load_quality(spark, args.csv, args.date, wh)
        print(json.dumps({"load": "quality", "seconds": round(time.time() - t0, 2),
                          "input_rows": report.input_rows,
                          "invalid_rows": report.invalid_rows,
                          "duplicate_rows": report.duplicate_rows,
                          "rows_added": report.table_rows_added}))
    elif args.cmd == "delete":
        # cast CLI strings to the table column's own type so the
        # anti-join compares like with like (a string-vs-bigint join
        # would coerce both sides to double — lossy above 2^53)
        from pyspark.sql import functions as _F

        key_type = dict(wh.read(args.table).dtypes).get(args.key_col)
        if key_type is None:
            print(f"error: {args.table} has no column {args.key_col}",
                  file=sys.stderr)
            raise SystemExit(2)
        keys_df = spark.createDataFrame(
            [(v,) for v in args.values], f"{args.key_col} string"
        ).select(_F.col(args.key_col).cast(key_type).alias(args.key_col))
        n = wh.delete_keys(args.table, keys_df, [args.key_col])
        print(json.dumps({"delete": args.table,
                          "seconds": round(time.time() - t0, 2),
                          "rows_deleted": n}))
    else:
        from .plans import hospital_queries as Q

        runners = {
            "q1": lambda: Q.q1_records_for_week(wh, _req(args.week, "--week")),
            "q2": lambda: Q.q2_weekly_record_counts(wh, _req(args.week, "--week")),
            "q3": lambda: Q.q3_bed_sums_for_week(wh, _req(args.week, "--week")),
            "q4": lambda: Q.q4_recent_week_sums(wh),
            "q5": lambda: Q.q5_bed_usage_by_rating(wh),
            "q6": lambda: Q.q6_total_bed_usage(wh, _req(args.week, "--week")),
            "q7": lambda: Q.q7_emergency_services_by_state(wh),
            "q8a": lambda: Q.q8a_bed_usage_by_ownership(
                wh, _req(args.ownership, "--ownership")
            ),
            "q8b": lambda: Q.q8b_top_bottom_rated_states(wh, _req(args.date, "--date")),
        }
        df = runners[args.query]()
        df.show(100, truncate=False)
    spark.stop()
    return 0


def _req(value: str | None, flag: str) -> str:
    if not value:
        print(f"error: {flag} is required for this query", file=sys.stderr)
        raise SystemExit(2)
    return value


if __name__ == "__main__":
    raise SystemExit(main())
