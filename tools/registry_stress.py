"""sf~1 stress of the heaviest registry queries on replicated inputs.

Builds a replicated scale-factor directory under /tmp (every testdata
table, with consistent FK-preserving key shifts per replica), then runs
the top-K heaviest registry queries (ranked by bench_detail.json)
against it with a noop sink.  The point is behavior invisible at sf0.1:
int64 overflow, LSH/SimHash bucket blowup, skewed-key fanout, window
memory — "completes with sane output, sub-linear wall growth" is the
pass bar; wrong-answer detection stays with the sf0.01 differential
(the DuckDB oracles for the quadratic near-dup queries are themselves
O(n^2) and cannot run at sf1).

Usage:
    python tools/registry_stress.py [replicas=10] [topk=20] [query ...]

Results feed SCALE.md §7.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark.sql.functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
SHIFT = 10_000_000

#: key columns shifted per replica, per table (FK edges stay consistent:
#: orders.o_custkey shifts with customer.c_custkey, lineitem.l_orderkey
#: with orders.o_orderkey).  part/supplier/nation/region stay 1x — they
#: are broadcast dims; replicated facts referencing them model the
#: realistic per-key fanout growth.
TABLE_SHIFTS: dict[str, list[str]] = {
    "region": [],
    "nation": [],
    "part": [],
    "supplier": [],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def build_replicated(spark, n: int, dest: str) -> None:
    from health_data_transformation_spark.sources.tables import load_table

    os.makedirs(dest, exist_ok=True)
    for table, keys in TABLE_SHIFTS.items():
        out_path = os.path.join(dest, f"{table}.parquet")
        if os.path.exists(out_path):
            continue
        df = load_table(spark, SRC, table)
        if not keys:
            reps = df
        else:
            parts = []
            for i in range(n):
                c = df
                for col in keys:
                    c = c.withColumn(col, F.col(col) + F.lit(i * SHIFT))
                if table == "documents" and i:
                    # similar-but-distinct replicas: near-dup operators
                    # must not collapse replicas into byte-identical
                    # groups (that would understate candidate volume)
                    c = c.withColumn(
                        "text", F.concat_ws(" ", F.col("text"), F.lit(f"rep{i}"))
                    )
                parts.append(c)
            reps = parts[0]
            for c in parts[1:]:
                reps = reps.unionByName(c)
        reps.write.mode("overwrite").parquet(out_path + ".tmp")
        os.rename(out_path + ".tmp", out_path)
        print(f"built {table} ({'1x dim' if not keys else f'{n}x'})")


def main() -> None:
    args = sys.argv[1:]
    n = int(args[0]) if args and args[0].isdigit() else 10
    topk = int(args[1]) if len(args) > 1 and args[1].isdigit() else 20
    names = [a for a in args if not a.isdigit()]

    from health_data_transformation_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="registry-stress")
    spark.sparkContext.setLogLevel("ERROR")

    dest = f"/tmp/hdt_stress_sf{n}"
    t0 = time.time()
    build_replicated(spark, n, dest)
    print(f"replicated inputs ready in {time.time() - t0:.1f}s at {dest}")

    qs = entrymod.queries()
    if not names:
        with open(os.path.join(os.path.dirname(__file__), "..", "bench_detail.json")) as fh:
            detail = json.load(fh)["queries"]
        names = [
            k for k, _ in sorted(detail.items(), key=lambda kv: -kv[1])
            if k in qs
        ][:topk]

    print(f"stressing {len(names)} queries at ~sf{float(SRC.rsplit('sf', 1)[1]) * n:g}")
    failures = []
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, dest)
            df.write.format("noop").mode("overwrite").save()
            print(f"OK    {name}: {time.time() - t0:.1f}s")
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: {type(e).__name__}: {str(e)[:300]}")
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all stressed queries completed")


if __name__ == "__main__":
    main()
