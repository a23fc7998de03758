"""Measured-scaling stress: replicate sf0.1 inputs Nx into /tmp and time
representative operator shapes at 1x vs Nx on a fixed-core local session.

Sub-linear wall-clock growth on fixed cores indicates the plans are
shuffle/scan-bound (not driver-bound) — the property that lets added
executors absorb added data on a real cluster.  Results feed the table
in SCALE.md §7.

Usage: python tools/scale_stress.py [replicas=10]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark.sql.functions as F  # noqa: E402


def replicate(df, n, id_cols, text_col=None):
    """Union n copies with shifted ids (and perturbed text so LSH sees
    distinct-but-similar docs, not byte-identical copies)."""
    out = None
    for i in range(n):
        c = df
        for col in id_cols:
            c = c.withColumn(col, F.col(col) + F.lit(i * 10_000_000))  # ppm-ok: i is the Python replica index (driver-side int, <=30)
        if text_col and i:
            c = c.withColumn(text_col, F.concat_ws(" ", F.col(text_col), F.lit(f"rep{i}")))
        out = c if out is None else out.unionByName(c)
    return out


def timed(label, df):
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    print(f"{label}: {dt:.2f}s")
    return dt


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    from health_data_transformation_spark.functions.deterministic import dec_sum
    from health_data_transformation_spark.operators.dedup import lsh_near_dup_pairs
    from health_data_transformation_spark.operators.skew import salted_aggregate
    from health_data_transformation_spark.session import get_spark
    from health_data_transformation_spark.sources.tables import load_table

    spark = get_spark(app_name="scale-stress", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"
    tmp = tempfile.mkdtemp(prefix="hdt_scale_")

    li = load_table(spark, sf, "lineitem")
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 5000)

    li_n_path, docs_n_path = f"{tmp}/lineitem", f"{tmp}/documents"
    replicate(li, n, ["l_orderkey"]).write.parquet(li_n_path)
    replicate(docs, n, ["doc_id"], "text").write.parquet(docs_n_path)
    li_n = spark.read.parquet(li_n_path)
    docs_n = spark.read.parquet(docs_n_path)

    def agg_shape(df):
        return (
            df.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(dec_sum("l_quantity", 2).alias("sum_qty"),
                 dec_sum("l_extendedprice", 2).alias("sum_price"))
        )

    def salted_shape(df):
        return salted_aggregate(
            df.select(F.col("l_returnflag").alias("k"),
                      F.col("l_quantity").cast("decimal(18,2)").alias("v")),
            ["k"], {"sum_v": F.sum("v")}, buckets=16,
        )

    results = {}
    for label, one, big in [
        ("filter+groupBy decimal agg (q03 shape)", agg_shape(li), agg_shape(li_n)),
        ("two-phase salted agg (q50 shape)", salted_shape(li), salted_shape(li_n)),
        ("LSH near-dup end-to-end (q51 shape)",
         lsh_near_dup_pairs(docs, band_size=4, num_hashes=8, max_bucket=50),
         lsh_near_dup_pairs(docs_n, band_size=4, num_hashes=8, max_bucket=50)),
    ]:
        timed(f"warm {label}", one)
        t1 = timed(f"1x  {label}", one)
        tn = timed(f"{n}x {label}", big)
        results[label] = (t1, tn, tn / t1)
    print()
    for label, (t1, tn, ratio) in results.items():
        print(f"{label}: 1x={t1:.2f}s {n}x={tn:.2f}s ratio={ratio:.1f}x for {n}x data")


if __name__ == "__main__":
    main()
