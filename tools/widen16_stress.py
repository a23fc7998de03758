"""VERDICT r12 task #6 (r13): re-check the r12 widen-reverts
(q275/q200/q162) at a 16x documents working set.  Arm W forces the
widen (repartition the documents scan on doc_id to session width right
after the read, via a wrapped load_table); arm P is the tree's own
code.  Interleaved P/W rounds in one session, noop sink.

The SCALE.md §8.15 numbers were measured with arm P = the r12-reverted
(floorless) shape.  The shipped code now widens these sites itself
behind a min_bytes=2m floor, so on the current tree arm P ~= arm W at
16x — rerunning this script verifies the floor fires (P should match
W), not the original crossover."""
import json, os, shutil, sys, time
import os as _os; sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
import pyspark.sql.functions as F

from health_data_transformation_spark.session import get_spark
from health_data_transformation_spark.sources.tables import load_table
spark = get_spark(app_name="widen16")
spark.sparkContext.setLogLevel("ERROR")

SRC = "/root/testdata/sf0.1"
DST = "/tmp/hdt16"
REPS = 16
if not os.path.exists(os.path.join(DST, "documents.parquet")):
    os.makedirs(DST, exist_ok=True)
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","embeddings"]:
        s = os.path.join(SRC, f"{t}.parquet"); d = os.path.join(DST, f"{t}.parquet")
        if not os.path.exists(d):
            os.symlink(s, d)
    base = load_table(spark, SRC, "documents")
    out = None
    for i in range(REPS):
        c = base.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))  # ppm-ok: i is the Python replica index (driver-side int, <=16)
        if i:
            c = c.withColumn("text", F.concat_ws(" ", F.col("text"), F.lit(f"rep{i}")))
        out = c if out is None else out.unionByName(c)
    out.coalesce(1).write.parquet(os.path.join(DST, "documents.parquet"))
    print("built 16x documents")

from health_data_transformation_spark.plans import analytics as A
orig_load = A.load_table
def widened_load(spark_, sf, tbl):
    df = orig_load(spark_, sf, tbl)
    if tbl == "documents":
        df = df.repartition(32, "doc_id")
    return df

QUERIES = ["q275_char_ngram_langid", "q200_corpus_export", "q162_simhash_banded"]
n_split = spark.read.parquet(os.path.join(DST, "documents.parquet")).rdd.getNumPartitions()
print("documents 16x scan splits:", n_split)

res = {q: {"P": [], "W": []} for q in QUERIES}
for rnd in range(2):
    for arm in ("P", "W"):
        A.load_table = orig_load if arm == "P" else widened_load
        for q in QUERIES:
            spark.sparkContext.setJobDescription(f"widen16 {q} {arm} r{rnd}")
            t0 = time.time()
            A.REGISTRY[q].fn(spark, DST).write.format("noop").mode("overwrite").save()
            res[q][arm].append(round(time.time() - t0, 2))
A.load_table = orig_load
summary = {}
for q in QUERIES:
    p, w = min(res[q]["P"]), min(res[q]["W"])
    ratios = [round(b/a, 3) for a, b in zip(res[q]["P"], res[q]["W"])]
    summary[q] = {"P": res[q]["P"], "W": res[q]["W"], "minP": p, "minW": w,
                  "W_over_P": ratios}
print(json.dumps(summary, indent=1))
spark.stop()
