"""Skewed-key stress wave: Zipf(1.2) key distributions at ~sf1.

registry_stress.py replicates uniformly, so the salting / AQE-skew-join
claims (q49/q50/q98, SCALE.md §4) had never been proven against real
skew.  This wave:

1. builds a ~sf1 directory where events.user_id and orders.o_custkey
   are REMAPPED to a Zipf(1.2) distribution via the discrete-Pareto
   inverse CDF (rank = floor(u^(-1/(s-1))), s=1.2 -> u^-5; the top key
   owns ~13% of all rows — 1-2e5 rows on one key at 10x).  Keys stay
   inside the replica-0 dimension domain so every FK remains valid;
   all other tables replicate exactly as registry_stress does.
2. runs the join/agg/window families keyed on the skewed columns with
   the Spark event log enabled, parses per-task durations, and FAILS
   if any qualifying stage (>= 8 tasks, median >= 0.3 s) has a
   straggler task > 5x the stage median.
3. proves NO WRONG ANSWERS under skew: each wave query's DuckDB oracle
   runs against the same skewed parquet and the results are compared
   with the check_oracle canonicalization.

Usage: python tools/skew_stress.py [replicas=10] [query ...]
Results feed SCALE.md §8.6.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import zlib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
ZIPF_S = 1.2
STRAGGLER_FACTOR = 5.0
MIN_TASKS = 8
MIN_MEDIAN_S = 0.3

#: join/agg/window families keyed on the skewed columns, plus the
#: salting/skew machinery itself and the SMJ chain AQE must re-plan
WAVE = [
    "q49_salted_join",
    "q50_salted_agg",
    "q98_hot_key_detector",
    "q15_orders_per_customer",
    "q18_running_user_totals",
    "q46_sessionize",
    "q134_markov_transitions",
    "q201_join_fanout_preflight",
    "q268_multiway_smj_revenue",
]

#: round-6 wave (VERDICT r5 task #4): the heaviest r5-continuation
#: queries, whose ~sf1 stress rows were uniform-data only.  --r6 adds
#: Zipf(1.2) remaps on THEIR group/join keys: documents.source (q288
#: greedy set cover), documents.lang (q275 language ID), the orders
#: o_totalprice band (q323 v-optimal histogram); q290/q296/q313 ride
#: the core events.user_id / orders.o_custkey remaps.  q315's grid-cell
#: "skew" is point density — measured separately by the §8.7 density
#: stress — but it runs here too for the oracle-on-skewed-data gate.
WAVE_R6 = [
    "q275_char_ngram_langid",
    "q288_greedy_source_coverage",
    "q290_pagerank_two_iter",
    "q296_rfm_segmentation",
    "q313_recsys_holdout_eval",
    "q315_dbscan_core_labels",
    "q323_voptimal_histogram",
]

#: round-7 wave (VERDICT r6 task #3): the dedup family against a
#: DUPLICATE-SATURATED corpus — the input shape CommonCrawl actually
#: has, and the one that drives _cap_buckets and the shuffle_hash
#: band self-join to their design limits: ~40% of docs are exact or
#: near copies of 4 templates (one giant LSH bucket and one giant
#: connected component per template) plus a 64-position sliding-window
#: drift chain (deep pointer-jumping path).  Oracle equality runs ON
#: the saturated corpus; cap behavior (recall lost when the bucket cap
#: fires) is measured separately by measure_cap_recall.
WAVE_DUP = [
    "q51_lsh_near_dup",
    "q76_dedup_clusters",
    "q77_deduped_corpus",
    "q162_simhash_banded",
    "q173_semantic_dedup",
    "q178_incremental_dedup",
    "q227_corpus_overlap_minhash",
]

#: The wave's first run measured that q162's EXACT statement has a
#: corpus-QUADRATIC true answer on this input (133M pairs from ~50k
#: docs: a g-doc template cluster has identical signatures, so all
#: C(g,2) pairs are within any radius) — toPandas/the O(n^2) oracle
#: both blow up on the output itself, not on a bad plan.  The wave
#: therefore runs the CAPPED statement (max_bucket=200: drops the
#: template monsters, keeps the ~15-doc drift-chain and ~10-doc
#: replica buckets) against a DuckDB oracle that mirrors the cap.
_DUP_Q162_CAP = 200

#: round-8 wave (§8.10): the EMBEDDING family against a duplicate-
#: saturated, cell-skewed vector corpus — the §8.9 CommonCrawl shape
#: transplanted to the modality where it hits hardest: a deterministic
#: encoder maps byte-identical inputs to byte-identical vectors, so a
#: boilerplate-heavy corpus puts 40% of all vectors inside FOUR exact-
#: copy clusters whose single LSH signature bucket holds C(g,2) pairs,
#: and the hot IVF cell (label 0 owns the template mass) is the skewed
#: partition every per-cell operator must survive.  Linear-statement
#: members run as-is with oracle equality ON the saturated corpus;
#: q100/q43 run wave variants exercising the new §8.10 knobs
#: (n_planes scaling, max_bucket, pre_dedup_exact, max_block) against
#: cap-mirroring oracles, exactly like §8.9's _dup_q162.
WAVE_EMB = [
    "q38_cosine_topk",
    "q39_embedding_norms",
    "q40_ivf_topk",
    "q73_ivf_built_search",
    "q82_int8_cosine_topk",
    "q158_integer_kmeans",
    "q190_hard_negatives",
    "q216_label_centroid_matrix",
    "q276_power_iteration_pca",
    "q319_matryoshka_truncation_eval",
    "q100_embedding_lsh_pairs",
    "q43_embedding_near_dup",
]

#: q100 wave variant: 16 planes (the signature space must scale with
#: the corpus: 2^8 buckets at 50k vectors is ~200/bucket of RANDOM
#: collision pairs before any real similarity — measured by
#: measure_emb_design_limit), exact-vector prepass (byte-identical
#: clusters owned linearly by the groups table), cap 200 (bounds the
#: irreducibly-quadratic near-variant class that survives the prepass).
_EMB_Q100_PLANES = 16
_EMB_Q100_CAP = 200
#: q43 wave variant: the exact quadratic verifier blocked by label;
#: the hot cell (~40% of the corpus) is dropped by max_block, the
#: honest blocks verify normally.  Pair volume is corpus-quadratic
#: within blocks, so the compare is per-label exact-integer aggregates
#: (count + floor6-sum in e6 units) instead of raw pair rows.
_EMB_Q43_CAP = 5000


def _emb_q100(spark, sf_dir: str):
    from health_data_transformation_spark.operators.similarity import (
        embedding_lsh_pairs,
    )
    from health_data_transformation_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    return embedding_lsh_pairs(
        e,
        n_planes=_EMB_Q100_PLANES,
        max_bucket=_EMB_Q100_CAP,
        pre_dedup_exact=True,
    )


def _emb_q100_oracle() -> str:
    from health_data_transformation_spark.functions.vector import (
        int8_quantize_sql,
    )
    from health_data_transformation_spark.operators.similarity import (
        _hyperplanes,
    )

    planes = _hyperplanes(_EMB_Q100_PLANES, 64)
    bits = " + ".join(
        f"(CASE WHEN CAST(list_dot_product(CAST(qv AS DOUBLE[]), "
        f"CAST({plane!r} AS DOUBLE[])) AS BIGINT) > 0 THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(planes)
    )
    return f"""WITH reps AS (
           SELECT min(vec_id) AS vec_id, embedding
           FROM embeddings GROUP BY embedding),
        q AS (SELECT vec_id, {int8_quantize_sql('embedding')} AS qv FROM reps),
        sigs AS (SELECT vec_id, qv, CAST({bits} AS BIGINT) AS lsh_sig FROM q),
        kept AS (
           SELECT sigs.* FROM sigs JOIN (
             SELECT lsh_sig FROM sigs GROUP BY lsh_sig
             HAVING count(*) <= {_EMB_Q100_CAP}) k USING (lsh_sig))
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.lsh_sig,
               CAST(list_dot_product(CAST(a.qv AS DOUBLE[]),
                                     CAST(b.qv AS DOUBLE[])) AS BIGINT) AS qdot
        FROM kept a JOIN kept b
          ON a.lsh_sig = b.lsh_sig AND a.vec_id < b.vec_id"""


def _emb_q43(spark, sf_dir: str):
    import pyspark.sql.functions as F  # noqa: F811

    from health_data_transformation_spark.operators import dedup as D
    from health_data_transformation_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    pairs = D.embedding_near_dup_pairs(
        e, block_col="label", min_cosine=0.3, max_block=_EMB_Q43_CAP
    )
    lbl = e.select(F.col("vec_id").alias("id_a"), "label")
    # floor6 cos_sim is k/1e6 within 1 ulp; +0.5-then-floor recovers the
    # exact integer k identically in both engines (no half-even hazard:
    # the argument is never nearer than ~1e-9 to a .5 boundary)
    return (
        pairs.join(lbl, "id_a")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(
                F.floor(F.col("cos_sim") * 1000000 + F.lit(0.5)).cast("decimal(38,0)")  # noqa: E501
            )
            .cast("long")
            .alias("sim_sum_e6"),
        )
    )


def _emb_q43_oracle() -> str:
    from health_data_transformation_spark.functions.vector import cosine_sql

    cs = cosine_sql("a.embedding", "b.embedding")
    return f"""WITH blocks AS (
           SELECT label FROM embeddings GROUP BY label
           HAVING count(*) <= {_EMB_Q43_CAP}),
        e AS (SELECT embeddings.* FROM embeddings JOIN blocks USING (label)),
        pairs AS (
           SELECT a.label,
                  (floor(({cs}) * 1000000.0) / 1000000.0) AS cos_sim
           FROM e a JOIN e b
             ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE (floor(({cs}) * 1000000.0) / 1000000.0) >= 0.3)
        SELECT label, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(floor(cos_sim * 1000000 + 0.5)) AS BIGINT)
                 AS sim_sum_e6
        FROM pairs GROUP BY label"""


def _dup_q162(spark, sf_dir: str):
    import pyspark.sql.functions as F  # noqa: F811

    from health_data_transformation_spark.functions import text as T
    from health_data_transformation_spark.operators import dedup as D
    from health_data_transformation_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("_sh3", F.array_distinct(T.token_shingles("text", 3)))
    sim = D.simhash(d, bits=32, set_col="_sh3")
    return D.simhash_banded_pairs(
        sim, bits=32, max_hamming=3, max_bucket=_DUP_Q162_CAP
    ).select("id_a", "id_b", "hamming")


def _dup_q162_oracle() -> str:
    from health_data_transformation_spark.plans.analytics import (
        _simhash_all_oracle,
    )

    return (
        _simhash_all_oracle()
        + f""",
       bands AS (
         SELECT doc_id, simhash, b.band,
                (simhash >> (b.band * 8)) & 255 AS val
         FROM sim CROSS JOIN (VALUES (0),(1),(2),(3)) b(band)),
       sized AS (SELECT band, val, count(*) AS n FROM bands GROUP BY 1, 2),
       kept AS (
         SELECT bands.* FROM bands JOIN sized USING (band, val)
         WHERE sized.n <= {_DUP_Q162_CAP}),
       cand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                a.simhash AS sa, b.simhash AS sb
         FROM kept a JOIN kept b USING (band, val)
         WHERE a.doc_id < b.doc_id)
       SELECT id_a, id_b,
              CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       FROM cand WHERE bit_count(xor(sa, sb)) <= 3"""
    )


def zipf_rank(u: "F.Column", n_keys: int) -> "F.Column":
    """Discrete-Pareto inverse CDF: P(rank >= r) = r^-(s-1)."""
    return F.least(
        F.lit(n_keys), F.floor(F.pow(u, F.lit(-1.0 / (ZIPF_S - 1.0))))
    ).cast("long")


def _zipf_pick(df, key_col: str, id_col: str, salt: str, values: list):
    """Remap a categorical column to a Zipf(1.2) draw over its own
    value domain (ordered ascending; rank 1 = hottest), keyed on a
    stable row id so rebuilds are reproducible."""
    m = 1_000_003
    u = (
        (
            F.abs(
                F.xxhash64(
                    F.col(id_col).cast("string"),
                    F.lit(zlib.crc32(salt.encode()) % m),
                )
            )
            % m
            + 1
        )
        / (m + 1)
    ).cast("double")
    rank = zipf_rank(u, len(values))
    arr = F.array(*[F.lit(v) for v in sorted(values)])
    return df.withColumn(key_col, F.element_at(arr, rank.cast("int")))


def build_skewed_r6(spark, n: int, dest: str) -> None:
    """build_skewed + the r6 remaps on the continuation queries' keys:
    documents.source, documents.lang, and the orders o_totalprice band
    (band = floor(price/20000): the hottest band owns ~87% of orders,
    prices keep their within-band offset so sums stay non-degenerate).
    """
    build_skewed(spark, n, dest)
    marker = os.path.join(dest, "_skewed_r6")
    if os.path.exists(marker):
        return
    for key_col, salt in (("source", "zipf-src"), ("lang", "zipf-lang")):
        path = os.path.join(dest, "documents.parquet")
        df = spark.read.parquet(path)
        vals = [r[0] for r in df.select(key_col).distinct().collect()]
        skewed = _zipf_pick(df, key_col, "doc_id", salt, vals)
        skewed.write.mode("overwrite").parquet(path + ".tmp")
        shutil.rmtree(path)
        os.rename(path + ".tmp", path)
        print(f"skewed documents.{key_col} over {len(vals)} values")
    path = os.path.join(dest, "orders.parquet")
    df = spark.read.parquet(path)
    n_bands = (
        df.select(
            F.floor(F.col("o_totalprice").cast("decimal(18,2)") / 20000)
        )
        .distinct()
        .count()
    )
    m = 1_000_003
    u = (
        (
            F.abs(
                F.xxhash64(
                    F.col("o_orderkey"), F.lit(zlib.crc32(b"zipf-band") % m)
                )
            )
            % m
            + 1
        )
        / (m + 1)
    ).cast("double")
    band = (zipf_rank(u, n_bands) - 1).cast("decimal(18,2)")
    dtype = dict(df.dtypes)["o_totalprice"]
    skewed = df.withColumn(
        "o_totalprice",
        (
            band * 20000
            + F.col("o_totalprice").cast("decimal(18,2)") % 20000
        ).cast(dtype),
    )
    skewed.write.mode("overwrite").parquet(path + ".tmp")
    shutil.rmtree(path)
    os.rename(path + ".tmp", path)
    print(f"skewed orders.o_totalprice band over {n_bands} bands")
    open(marker, "w").close()


def build_dup_corpus(spark, n: int, dest: str) -> None:
    """Replicated ~sf1 inputs where documents is duplicate-saturated.

    Deterministic per-doc assignment (xxhash64 of doc_id, crc32 salts —
    the build must reproduce bit-for-bit across reruns):
      * 40% of docs become copies of one of 4 template texts (the
        texts of replica-0 docs 0-3): half byte-exact, half near
        (one token replaced) — each template therefore owns a
        ~5000-doc near-dup cluster whose every LSH band bucket is
        ~100x over the q51/q76/q77 cap of 50.
      * a further 2% become a 64-position sliding-window drift chain
        (position p holds tokens chain{p}..chain{p+29}): adjacent
        positions are near-dups (Jaccard ~0.93), distant ones are not
        (J < 0.4 past ~13 steps) — a deep path component for the
        pointer-jumping convergence, with per-position bucket sizes
        UNDER the cap so the chain actually forms.
      * the rest keep their replica text (the existing rep{i}
        near-dup-across-replicas shape from registry_stress).
    """
    from registry_stress import build_replicated

    build_replicated(spark, n, dest)
    marker = os.path.join(dest, "_dup")
    if os.path.exists(marker):
        return
    path = os.path.join(dest, "documents.parquet")
    df = spark.read.parquet(path)
    # ADVICE r7: collect() row order is not guaranteed — sort by doc_id
    # so the hash-to-template assignment (and the corpus bytes) really
    # are reproducible across reruns, as the docstring claims
    templates = [
        r["text"]
        for r in sorted(
            df.filter(F.col("doc_id").isin([0, 1, 2, 3]))
            .select("doc_id", "text")
            .collect(),
            key=lambda r: r["doc_id"],
        )
    ]
    assert len(templates) == 4
    m = 1_000_003
    h = F.abs(
        F.xxhash64(
            F.col("doc_id").cast("string"),
            F.lit(zlib.crc32(b"dup-corpus") % m),
        )
    )
    tmpl = F.element_at(
        F.array(*[F.lit(t) for t in templates]),
        ((h / 100).cast("long") % 4 + 1).cast("int"),
    )
    # near variant: one token replaced at a hash-picked position
    toks = F.split(tmpl, " ")
    pos = (h / 800).cast("long") % F.size(toks)
    mut = F.concat(F.lit("mut"), (h % 7).cast("string"))
    near = F.array_join(
        F.zip_with(
            toks,
            F.sequence(F.lit(0), F.size(toks) - 1),
            lambda t, i: F.when(i == pos, mut).otherwise(t),
        ),
        " ",
    )
    # drift chain: 30-token window starting at position doc_id % 64
    p = F.col("doc_id") % 64
    chain = F.concat_ws(
        " ",
        F.transform(
            F.sequence(p, p + 29),
            lambda j: F.concat(F.lit("chain"), j.cast("string")),
        ),
    )
    bucket = h % 100
    new_text = (
        F.when(bucket < 20, tmpl)           # 20% exact copies
        .when(bucket < 40, near)            # 20% near copies
        .when(bucket < 42, chain)           # 2% drift chain
        .otherwise(F.col("text"))
    )
    out = df.withColumn("text", new_text).withColumn(
        "n_chars", F.length("text")
    )
    out.write.mode("overwrite").parquet(path + ".tmp")
    shutil.rmtree(path)
    os.rename(path + ".tmp", path)
    print("dup-saturated documents written (40% template copies, 2% chain)")
    open(marker, "w").close()


def measure_cap_recall(spark, dest: str) -> None:
    """What the q51-parameter bucket cap (max_bucket=50) costs on the
    saturated corpus, measured (VERDICT r6 task #3 'done' criterion).

    Ground truth is ANALYTIC for exact-copy groups: identical texts
    have Jaccard 1, so a group of g copies contributes C(g,2) true
    pairs and g-1 droppable duplicates — no quadratic enumeration.
    The capped pipeline's recall against that truth is reported at
    pair level AND at member level (the number that matters for
    dedup: a doc with zero surviving pairs is never dropped).
    """
    from health_data_transformation_spark.operators import dedup as D
    from health_data_transformation_spark.sources.tables import load_table

    d = load_table(spark, dest, "documents")
    groups = (
        d.groupBy("text")
        .agg(F.count("*").alias("g"), F.min("doc_id").alias("gid"))
        .filter(F.col("g") >= 2)
    )
    truth = groups.agg(
        F.count("*").alias("n_groups"),
        F.sum(F.expr("g * (g - 1) div 2")).alias("true_pairs"),
        F.sum(F.col("g") - 1).alias("true_dup_members"),
        F.max("g").alias("max_group"),
    ).collect()[0]
    print(
        f"exact-copy truth: {truth['n_groups']} groups, max size "
        f"{truth['max_group']}, {truth['true_pairs']} pairs, "
        f"{truth['true_dup_members']} droppable members"
    )
    membership = d.join(
        groups.select("text", "gid"), "text"
    ).select("doc_id", "gid")
    pairs = D.lsh_near_dup_pairs(
        d, band_size=4, num_hashes=8, min_jaccard=0.4, max_bucket=50
    ).select("id_a", "id_b")
    ga = membership.select(
        F.col("doc_id").alias("id_a"), F.col("gid").alias("ga")
    )
    gb = membership.select(
        F.col("doc_id").alias("id_b"), F.col("gid").alias("gb")
    )
    same_group = (
        pairs.join(ga, "id_a").join(gb, "id_b").filter("ga = gb")
    )
    found_pairs = same_group.count()
    found_members = (
        same_group.select(F.col("id_a").alias("i"))
        .union(same_group.select(F.col("id_b").alias("i")))
        .distinct()
        .count()
    )
    pr = found_pairs / max(1, truth["true_pairs"])
    mr = found_members / max(1, truth["true_dup_members"] + truth["n_groups"])
    print(
        f"capped (max_bucket=50) pipeline on exact-copy groups: "
        f"{found_pairs} pairs (pair recall {pr:.4%}), "
        f"{found_members} members reached (member recall {mr:.4%})"
    )
    print(
        "NOTE: oversized buckets are DROPPED by the cap, so template-"
        "scale clusters get zero LSH pairs by design — exact-hash "
        "dedup (q10/q33 content fingerprint) is the linear-time first "
        "pass that owns byte-identical duplicates; the cap protects "
        "the quadratic verifier from boilerplate blowup."
    )


def measure_prededup_effect(spark, dest: str) -> None:
    """VERDICT r7 task #6: the §8.9 contract (exact-hash dedup owns
    boilerplate BEFORE banded LSH) operationalized as
    ``pre_dedup_exact=`` — measure what it changes on the saturated
    corpus.  Three numbers: (a) the largest band bucket before/after
    the exact prepass, (b) whether the q51 cap (50) still fires and on
    WHAT (byte-identical clusters vs genuinely distinct near-variant
    contents), (c) exact-copy coverage of the composed pipeline
    (groups table + representative pairs) against analytic truth —
    the r7 wave measured 0.009% pair / 2.4% member recall for the
    cap-only pipeline on this corpus.
    """
    from health_data_transformation_spark.operators import dedup as D
    from health_data_transformation_spark.sources.tables import load_table

    d = load_table(spark, dest, "documents")

    def bucket_profile(frame, widen: bool):
        sigs = D.minhash_signatures(frame, num_hashes=8, widen=widen)
        ex = D._band_explode(sigs, "doc_id", 4, 8).drop("band")
        row = (
            ex.groupBy("bucket")
            .count()
            .agg(
                F.max("count").alias("max_bucket"),
                F.sum(F.when(F.col("count") > 50, 1).otherwise(0)).alias(
                    "n_over_cap"
                ),
            )
            .collect()[0]
        )
        return row["max_bucket"], row["n_over_cap"]

    reps, groups = D.exact_prepass(d)
    b_max, b_over = bucket_profile(d, widen=True)
    a_max, a_over = bucket_profile(reps, widen=False)
    print(
        f"band buckets before prepass: max {b_max}, {b_over} over cap 50; "
        f"after prepass: max {a_max}, {a_over} over cap 50"
    )

    # exact-copy coverage of the COMPOSED pipeline: every >=2-copy
    # group is fully represented by the groups table (keeper + count =
    # C(g,2) pairs, linear), independent of what the capped LSH finds
    truth = (
        groups.filter(F.col("n_copies") >= 2)
        .agg(
            F.count("*").alias("n_groups"),
            F.sum(F.expr("n_copies * (n_copies - 1) div 2")).alias(
                "true_pairs"
            ),
            F.sum(F.col("n_copies") - 1).alias("dup_members"),
        )
        .collect()[0]
    )
    print(
        f"composed pipeline exact-copy coverage: {truth['n_groups']} "
        f"groups / {truth['true_pairs']} pairs / "
        f"{truth['dup_members']} droppable members — 100% by "
        f"construction via the groups table (vs 0.009% pair / 2.4% "
        f"member recall for cap-only LSH, r7)"
    )

    t0 = time.time()
    n_rep_pairs = (
        D.lsh_near_dup_pairs(
            d, band_size=4, num_hashes=8, min_jaccard=0.4, max_bucket=50,
            pre_dedup_exact=True,
        )
        .count()
    )
    print(
        f"representative-level near-dup pairs (pre_dedup_exact=True, "
        f"cap 50): {n_rep_pairs} in {time.time() - t0:.1f}s"
    )


def measure_budget_recall_curve(spark, dest: str) -> None:
    """§8.11 (r9): what a pair budget BUYS, measured as a curve.

    §8.10b showed the budget cap stays non-vacuous where absolute caps
    return 0 rows; this wave measures the other side of the trade —
    recall on genuinely-distinct near-dup content as a function of the
    budget — on the §8.9 saturated corpus with the production
    composition (``pre_dedup_exact=True``: exact copies are owned by
    the prepass groups table at every point on the curve, so the
    budget only ever spends on distinct-but-near content).

    Ground truth comes from re-deriving the corpus builder's
    deterministic class assignment (same xxhash64/crc32 expression as
    ``build_dup_corpus``), NOT from running a quadratic truth pass:
    every doc is labeled exact-copy / near-copy(template t) / chain /
    organic, so "near-template member coverage" = distinct near-copy
    REPRESENTATIVES reached by >= 1 verified pair, over the exact
    count of such representatives.  Near-copies of one template differ
    pairwise by <= 2 of ~30 tokens (J ~ 0.87), so ideal coverage is
    ~100% whenever their buckets survive the cap.
    """
    from health_data_transformation_spark.operators import dedup as D
    from health_data_transformation_spark.sources.tables import load_table

    d = load_table(spark, dest, "documents")

    # re-derive the builder's class labels (bit-identical expression)
    m = 1_000_003
    h = F.abs(
        F.xxhash64(
            F.col("doc_id").cast("string"),
            F.lit(zlib.crc32(b"dup-corpus") % m),
        )
    )
    bucket = h % 100
    labeled = d.select(
        "doc_id",
        F.when(bucket < 20, F.lit("exact"))
        .when(bucket < 40, F.lit("near"))
        .when(bucket < 42, F.lit("chain"))
        .otherwise(F.lit("organic"))
        .alias("cls"),
    )

    reps, groups = D.exact_prepass(d)
    rep_cls = reps.select("doc_id").join(labeled, "doc_id")
    totals = {
        r["cls"]: r["n"]
        for r in rep_cls.groupBy("cls").agg(F.count("*").alias("n")).collect()
    }
    print(f"rep-level class counts after prepass: {totals}")

    # bucket-size classes on the REP banded rows (what the budget sees)
    sigs = D.minhash_signatures(reps, num_hashes=8, widen=False)
    ex = D._band_explode(sigs, "doc_id", 4, 8).drop("band")
    size_classes = sorted(
        (r["gn"], r["nb"])
        for r in ex.groupBy("bucket")
        .agg(F.count("*").alias("gn_"))
        .groupBy(F.col("gn_").alias("gn"))
        .agg(F.count("*").alias("nb"))
        .collect()
    )

    def derived(budget: int) -> tuple[int, int]:
        """(threshold, kept candidate-pair volume) per the
        apply_pair_budget rule, restated on the collected size-class
        table (O(distinct sizes) rows — tiny)."""
        cum, thr, kept = 0, 0, 0
        for gn, nb in size_classes:
            cum += nb * gn * (gn - 1) // 2
            if cum <= budget:
                thr, kept = gn, cum
        return thr, kept

    for B in (50_000, 500_000, 2_000_000, 8_000_000):
        thr, kept_vol = derived(B)
        t0 = time.time()
        pairs = D.lsh_near_dup_pairs(
            d, band_size=4, num_hashes=8, min_jaccard=0.4,
            pre_dedup_exact=True, pair_budget=B,
        ).select("id_a", "id_b")
        # persist so the coverage join below reads the cached pairs
        # instead of re-executing the whole pipeline (r9 self-review);
        # the printed wall = one pipeline execution + materialization
        pairs.persist()
        n_pairs = pairs.count()
        wall = time.time() - t0
        touched = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .union(pairs.select(F.col("id_b").alias("doc_id")))
            .distinct()
            .join(labeled, "doc_id")
            .groupBy("cls")
            .agg(F.count("*").alias("n"))
        )
        reach = {r["cls"]: r["n"] for r in touched.collect()}
        near_cov = reach.get("near", 0) / max(1, totals.get("near", 0))
        chain_cov = reach.get("chain", 0) / max(1, totals.get("chain", 0))
        print(
            f"budget {B:>9,}: derived cap {thr:>6}, kept candidate "
            f"volume {kept_vol:>9,}, verified rep pairs {n_pairs:>9,} "
            f"in {wall:5.1f}s; member coverage near {near_cov:.1%} "
            f"({reach.get('near', 0)}/{totals.get('near', 0)}), "
            f"chain {chain_cov:.1%} "
            f"({reach.get('chain', 0)}/{totals.get('chain', 0)})"
        )
        pairs.unpersist()
    print(
        "exact-copy coverage is 100% at every budget by construction "
        "(prepass groups table); the absolute cap-50 reference on this "
        "corpus is 57,153 rep pairs (§8.9b)"
    )


def _ingest_probe_batch(spark, templates: list[str]):
    """The §8.11b probe classes (near-template / near-chain / novel)
    as one frame — shared by measure_ingest_budget and
    measure_cap_staleness so both waves grade the same probes."""

    def mutate(text: str, k: int) -> str:
        toks = text.split(" ")
        toks[k % len(toks)] = f"probemut{k}"
        return " ".join(toks)

    probes = []
    pid = 10_000_000
    for k in range(25):
        for t in templates:
            probes.append((pid, mutate(t, k), "near_template"))
            pid += 1
    for p in range(0, 64, 4):
        win = " ".join(f"chain{j}" for j in range(p, p + 30))
        probes.append((pid, mutate(win, p), "near_chain"))
        pid += 1
    for k in range(100):
        probes.append(
            (pid, " ".join(f"novel{pid}tok{j}" for j in range(30)), "novel")
        )
        pid += 1
    return spark.createDataFrame(
        probes, "doc_id long, text string, cls string"
    )


def _top_templates(d, k: int = 4) -> list[str]:
    return [
        r["text"]
        for r in d.groupBy("text")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "text")
        .limit(k)
        .collect()
    ]


def measure_cap_staleness(spark, dest: str) -> None:
    """§8.11d (VERDICT r11 wrong #2 / task #4): false-admits at the
    staleness-guard boundary.

    ``hdt_admission_cap`` is exact at build time; as the corpus grows
    through appended deliveries the saturated buckets outgrow the
    frozen cap and get dropped — which ADMITS their near-dups (the
    §8.11b failure direction).  CAP_STALENESS_FACTOR bounds how stale
    a stamp the probes will accept.  Four arms on the §8.9 saturated
    corpus, all graded on the same §8.11b probe classes:

      * fresh (1.0x): cap derived on the full corpus — the floor;
      * grown ~1.6x (WITHIN the 2x guard): cap stamped on a ~60%
        delivery, store grown to the full corpus — quantifies the
        false-admit tolerance the factor accepts;
      * grown ~3.3x (BEYOND the guard): cap stamped on a ~30%
        delivery — the probe must FAIL CLOSED (the guard working);
      * rebuild (the prescribed fix for the beyond-guard store):
        re-derive on the grown corpus — false-admits return to the
        fresh arm's numbers.
    """
    from health_data_transformation_spark.operators import dedup as D
    from health_data_transformation_spark.sources.tables import load_table

    d = load_table(spark, dest, "documents")
    batch = _ingest_probe_batch(spark, _top_templates(d))
    batch.persist().count()
    probe = batch.select("doc_id", "text")

    def counts(res) -> str:
        by = {
            r["cls"]: (r["n_admitted"], r["n"])
            for r in res.join(batch.select("doc_id", "cls"), "doc_id")
            .groupBy("cls")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("admitted").cast("long")).alias("n_admitted"),
            )
            .collect()
        }
        nt, nc, nv = by["near_template"], by["near_chain"], by["novel"]
        return (
            f"near-template FALSE-ADMITS {nt[0]}/{nt[1]}, "
            f"near-chain false-admits {nc[0]}/{nc[1]}, "
            f"novel correctly admitted {nv[0]}/{nv[1]}"
        )

    # full-corpus store frames, unstamped (the grown arms re-stamp
    # them with a stale delivery's cap — exactly a store whose original
    # footers carry the old stamp after appended deliveries)
    full_b, full_t = D.build_lsh_store(d)
    full_b = full_b.localCheckpoint()

    def stale_arm(pct: int):
        sub = d.filter(F.abs(F.hash("doc_id")) % 100 < pct)
        sb, _ = D.build_lsh_store(sub, cap_budget=D.ADMISSION_CAP_BUDGET)
        stamp = dict(sb.schema["bucket"].metadata or {})
        grown = full_b.withMetadata("bucket", stamp)
        factor = full_b.count() / max(1, stamp["hdt_cap_rows"])
        return grown, stamp, factor

    t0 = time.time()
    fresh_b, fresh_t = D.build_lsh_store(
        d, cap_budget=D.ADMISSION_CAP_BUDGET
    )
    res = D.lsh_incremental_matches_stored(fresh_b, fresh_t, probe)
    print(
        f"fresh 1.0x (cap="
        f"{fresh_b.schema['bucket'].metadata['hdt_admission_cap']}): "
        f"{counts(res)} in {time.time() - t0:.1f}s"
    )

    t0 = time.time()
    grown, stamp, factor = stale_arm(60)
    res = D.lsh_incremental_matches_stored(grown, full_t, probe)
    print(
        f"grown {factor:.2f}x WITHIN guard (stale cap="
        f"{stamp['hdt_admission_cap']}): {counts(res)} "
        f"in {time.time() - t0:.1f}s"
    )

    grown, stamp, factor = stale_arm(30)
    try:
        D.lsh_incremental_matches_stored(grown, full_t, probe).count()
        print(
            f"grown {factor:.2f}x BEYOND guard: "
            "ERROR — probe did not fail closed"
        )
    except ValueError as e:
        print(
            f"grown {factor:.2f}x BEYOND guard: FAILED CLOSED "
            f"({str(e)[:80]}...)"
        )

    # the PRESCRIBED fix for the beyond-guard store: an actual fresh
    # build call over the grown corpus (not a reuse of the fresh arm's
    # frames — r12 review catch: reusing them made this line
    # tautological and blind to a rebuild-path regression)
    t0 = time.time()
    re_b, re_t = D.build_lsh_store(d, cap_budget=D.ADMISSION_CAP_BUDGET)
    res = D.lsh_incremental_matches_stored(re_b, re_t, probe)
    print(
        f"rebuild (fresh build, re-derived cap="
        f"{re_b.schema['bucket'].metadata['hdt_admission_cap']}): "
        f"{counts(res)} in {time.time() - t0:.1f}s"
    )
    batch.unpersist()


def measure_ingest_budget(spark, dest: str) -> None:
    """§8.11b (r9): the ingest-time failure DIRECTION of cap vacuity.

    For batch admission (``lsh_incremental_matches``) an oversized-
    bucket drop does not lose recall quietly — it ADMITS the probe:
    a near-duplicate of saturated boilerplate sails into the stored
    corpus because its only collision buckets were dropped.  This
    measures that direction on the §8.9 saturated corpus with three
    probe classes (all NOVEL texts, so the exact-fingerprint first
    pass cannot own them):

      * near-template probes: one token of a template replaced with a
        fresh ``probemut{k}`` token — TRUE near-dups of ~10k stored
        copies; must be rejected;
      * near-chain probes: one token of a drift-chain window replaced
        — true near-dups of small-bucket content; must be rejected;
      * novel probes: fresh token streams; must be admitted.

    Compared: ``max_bucket=50`` (the q51-parameter absolute cap) vs
    ``pair_budget=2_000_000`` (the §8.10b constant).  The absolute
    cap's template-bucket drop is corpus-size-frozen (a saturated
    bucket is over ANY constant at every scale), so its false-
    admission rate on near-template probes is structural; the budget
    form sizes the threshold from volume and affords the saturated
    buckets iff the stated work allows.
    """
    from health_data_transformation_spark.operators import dedup as D
    from health_data_transformation_spark.sources.tables import load_table

    d = load_table(spark, dest, "documents")
    # the TRUE template texts are the corpus's top-4 exact-frequency
    # classes (~20% exact copies split over 4 templates, far above any
    # near-variant or chain-position class) — docs 0-3 themselves were
    # REWRITTEN by the builder's hash assignment (doc 0 lands in the
    # near-copy bucket), so reading them back post-build would hand out
    # a mutated copy as a "template" and make 1-token probes actually
    # 2-token (r9 self-review finding)
    templates = [
        r["text"]
        for r in d.groupBy("text")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "text")
        .limit(4)
        .collect()
    ]

    batch = _ingest_probe_batch(spark, templates)
    batch.persist().count()

    # r11 (VERDICT r10 wrong #3): the third arm is the STREAMING gate's
    # exact configuration — the admission cap derived CORPUS-SIDE at
    # store-build time (min(ADMISSION_CAP_BUDGET // n_bands, max corpus
    # bucket size), stamped in the store's footer metadata, read by the
    # probe by default).  On this saturated corpus the template buckets
    # exceed any constant, so max_bucket=50 drops them (false-admits
    # their near-dups); the derived cap covers them by construction
    # whenever the budget affords the largest bucket.
    def derived_cap_arm():
        sb, st = D.build_lsh_store(d, cap_budget=D.ADMISSION_CAP_BUDGET)
        cap = sb.schema["bucket"].metadata["hdt_admission_cap"]
        return f"derived cap={cap}", D.lsh_incremental_matches_stored(
            sb, st, batch.select("doc_id", "text")
        )

    arms = [
        ("max_bucket=50", lambda: (
            "max_bucket=50",
            D.lsh_incremental_matches(
                d, batch.select("doc_id", "text"), max_bucket=50
            ),
        )),
        ("pair_budget=2M", lambda: (
            "pair_budget=2M",
            D.lsh_incremental_matches(
                d, batch.select("doc_id", "text"), pair_budget=2_000_000
            ),
        )),
        ("derived", derived_cap_arm),
    ]
    for _, arm in arms:
        t0 = time.time()
        label, res = arm()
        verdicts = (
            res.join(batch.select("doc_id", "cls"), "doc_id")
            .groupBy("cls")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("admitted").cast("long")).alias("n_admitted"),
            )
            .collect()
        )
        wall = time.time() - t0
        by = {r["cls"]: (r["n_admitted"], r["n"]) for r in verdicts}
        nt, nc, nv = by["near_template"], by["near_chain"], by["novel"]
        print(
            f"{label:>16}: near-template FALSE-ADMITS {nt[0]}/{nt[1]}, "
            f"near-chain false-admits {nc[0]}/{nc[1]}, "
            f"novel correctly admitted {nv[0]}/{nv[1]} in {wall:.1f}s"
        )
    batch.unpersist()


def measure_store_growth(spark) -> None:
    """§8.12 (r9): what the PERSISTED signature store buys at ingest.

    q178's contract says corpus signatures are "computed once at their
    own ingest time and stored; each new batch probes them like an
    index" — but until r9 every probe API recomputed the corpus's
    signatures AND token sets per call, i.e. per-ingest cost was
    O(stored corpus), not O(batch x collisions).  This measures the
    divergence as the stored corpus grows with the probe batch held
    fixed:

      * corpora: sf0.1 documents replicated 1x/8x/32x where replica
        r>0 prefixes every token with ``r{r}`` — replicas are
        TOKEN-DISJOINT from the base, so collision volume against the
        probe batch is CONSTANT across sizes and any probe-wall growth
        is attributable to store size alone (the isolation this
        experiment needs; real growth adds collisions too, which is
        the §8.11b budget's axis, not this one);
      * probe batch: 100 near-dups (one token of a base text replaced
        — must be rejected) + 100 novel docs (must be admitted), fixed
        across sizes;
      * arms, all ``max_bucket=50``, verdicts asserted identical:
        (a) recompute — ``lsh_incremental_matches`` on the raw corpus
            parquet (re-signs + re-tokenizes history every batch);
        (b) stored — ``lsh_incremental_matches_stored`` on the
            parquet store (scans it, never recomputes);
        (c) stored + ``probe_pushdown`` — the batch's band buckets and
            the candidates' corpus ids pushed as IN filters into the
            bucket-/id-sorted store (parquet row-group pruning: the
            index-READ shape).

    Store build wall is reported separately — it is paid once per
    corpus delivery (at the corpus's own ingest), not per probe.
    """
    from health_data_transformation_spark.operators import dedup as D
    from health_data_transformation_spark.sources.tables import load_table

    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = (
        load_table(spark, base_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )

    seed_texts = [
        r["text"]
        for r in sorted(
            base.filter(F.col("doc_id") < 100).collect(),
            key=lambda r: r["doc_id"],
        )
    ]

    def mutate(text: str, k: int) -> str:
        toks = text.split(" ")
        toks[k % len(toks)] = f"probemut{k}"
        return " ".join(toks)

    probes = [
        (10_000_000 + k, mutate(t, k), "near_dup")
        for k, t in enumerate(seed_texts)
    ]
    probes += [
        (
            10_100_000 + k,
            " ".join(f"novel{k}tok{j}" for j in range(30)),
            "novel",
        )
        for k in range(100)
    ]
    batch = spark.createDataFrame(
        probes, "doc_id long, text string, cls string"
    )
    batch.persist().count()
    bdocs = batch.select("doc_id", "text")

    def du(path: str) -> int:
        total = 0
        for dirpath, _dirnames, filenames in os.walk(path):
            for f in filenames:
                total += os.path.getsize(os.path.join(dirpath, f))
        return total

    print("\n=== §8.12 store growth: probe wall vs stored-corpus size ===")
    for mult in (1, 8, 32):
        root = f"/tmp/hdt_storegrow_{mult}x"
        cdir = os.path.join(root, "documents.parquet")
        if not os.path.exists(os.path.join(root, "_done")):
            shutil.rmtree(root, ignore_errors=True)
            os.makedirs(root, exist_ok=True)
            reps = base.crossJoin(
                spark.range(mult).select(F.col("id").alias("rep"))
            )
            # replica 0 keeps the base text; replicas r>0 prefix every
            # token with r{r} -> token-disjoint from the base, so the
            # probe batch's collision set is IDENTICAL at every mult
            text2 = F.when(F.col("rep") == 0, F.col("text")).otherwise(
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda t: F.concat(
                            F.lit("r"), F.col("rep").cast("string"), t
                        ),
                    ),
                    " ",
                )
            )
            reps.select(
                (F.col("doc_id") * mult + F.col("rep")).alias("doc_id"),
                text2.alias("text"),
            ).write.parquet(cdir)
            open(os.path.join(root, "_done"), "w").close()
        corpus = spark.read.parquet(cdir)
        n_corpus = corpus.count()

        bdir = os.path.join(root, "store_buckets")
        tdir = os.path.join(root, "store_tokens")
        shutil.rmtree(bdir, ignore_errors=True)
        shutil.rmtree(tdir, ignore_errors=True)
        t0 = time.time()
        buckets, tokens = D.build_lsh_store(corpus)
        buckets.sort("bucket").write.parquet(bdir)
        tokens.sort("id_c").write.parquet(tdir)
        t_build = time.time() - t0
        sb = spark.read.parquet(bdir)
        st = spark.read.parquet(tdir)

        def verdict_tuple(res) -> tuple:
            row = res.agg(
                F.count("*").alias("n"),
                F.sum(F.col("admitted").cast("long")).alias("adm"),
                F.sum("n_matches").alias("nm"),
            ).collect()[0]
            return (row["n"], row["adm"], row["nm"])

        arms = {
            "recompute": lambda: D.lsh_incremental_matches(
                corpus, bdocs, max_bucket=50
            ),
            "stored": lambda: D.lsh_incremental_matches_stored(
                sb, st, bdocs, max_bucket=50
            ),
            "stored+pushdown": lambda: D.lsh_incremental_matches_stored(
                sb, st, bdocs, max_bucket=50, probe_pushdown=True
            ),
        }
        walls = {}
        verdicts = {}
        for label, make in arms.items():
            best = None
            for _rep in range(2):
                t0 = time.time()
                verdicts[label] = verdict_tuple(make())
                w = time.time() - t0
                best = w if best is None else min(best, w)
            walls[label] = best
        assert len(set(verdicts.values())) == 1, (
            f"arms disagree at {mult}x: {verdicts}"
        )
        n, adm, nm = next(iter(verdicts.values()))
        print(
            f"{mult:>3}x: corpus {n_corpus:>7} docs, store "
            f"{du(bdir) / 1e6:6.1f} MB buckets + {du(tdir) / 1e6:6.1f} MB "
            f"tokens, build {t_build:5.1f}s | probe walls: "
            f"recompute {walls['recompute']:5.2f}s, "
            f"stored {walls['stored']:5.2f}s, "
            f"pushdown {walls['stored+pushdown']:5.2f}s | "
            f"verdicts n={n} admitted={adm} matches={nm}"
        )
    batch.unpersist()


def measure_snapshot_delete(spark) -> None:
    """§8.14 (r11): what partition scoping buys a takedown request.

    ``SnapshotTable.commit_delete`` on an unpartitioned table rewrites
    every survivor — O(table) per legal request.  With
    ``partition_by`` the rewrite touches only partitions containing
    matches and the manifest reuses the rest (VERDICT r10 missing #1).
    Measured head-to-head as the table grows with the REQUEST held
    fixed: orders-derived rows (k, p = k % 16, cents) replicated
    1x/4x/16x; the takedown deletes ``p = 3 AND k % 5 = 0`` — one of
    16 partitions, partially.  Reported per arm: delete wall and the
    bytes the new version wrote (the physical rewrite cost; the
    partitioned arm's should track the touched partition, the
    unpartitioned arm's the full table).
    """
    import shutil
    import tempfile

    from health_data_transformation_spark.snapshots import SnapshotTable
    from health_data_transformation_spark.sources.tables import load_table

    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    orders = load_table(spark, base_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 16).alias("p"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    n_base = base.count()

    def du(dirs: list[str]) -> int:
        total = 0
        for d in dirs:
            for dirpath, _dn, filenames in os.walk(d):
                for f in filenames:
                    total += os.path.getsize(os.path.join(dirpath, f))
        return total

    print("\n=== §8.14 takedown cost: partitioned vs unpartitioned ===")
    print(f"base {n_base} rows; delete p = 3 AND k % 5 = 0 "
          f"(1 of 16 partitions, partially)")
    stage = tempfile.mkdtemp(prefix="hdt_snapdel_")
    for mult in (1, 4, 16):
        df = base
        if mult > 1:
            reps = spark.range(mult).select(F.col("id").alias("_rep"))
            df = base.crossJoin(reps).select(
                (F.col("k") * mult + F.col("_rep")).alias("k"),
                "p",
                "cents",
            )
        df = df.localCheckpoint()  # both arms commit the same input once
        n = df.count()
        for label, kwargs in (
            ("unpartitioned", {}),
            ("partitioned", {"partition_by": "p"}),
        ):
            root = os.path.join(stage, f"{label}_{mult}x")
            shutil.rmtree(root, ignore_errors=True)
            t = SnapshotTable(spark, root, **kwargs)
            t.commit_overwrite(df)
            v1_dirs = set(t._read_manifest(1)["dirs"])
            t0 = time.time()
            t.commit_delete("p = 3 AND k % 5 = 0")
            wall = time.time() - t0
            new_dirs = [
                d for d in t._read_manifest(2)["dirs"] if d not in v1_dirs
            ]
            print(
                f"{mult:>3}x ({n:>8,} rows) {label:>14}: delete "
                f"{wall:5.1f}s, rewrote {du(new_dirs) / 1e6:8.1f} MB "
                f"in {len(new_dirs)} new dir(s)"
            )
    shutil.rmtree(stage, ignore_errors=True)


def measure_snapshot_delete2(spark) -> None:
    """§8.14b (r12): what a SECOND partition level buys the takedown.

    §8.14 measured single-level scoping (rewrite tracks 1/16 touched).
    Multi-column partitioning (VERDICT r11 task #3) nests levels, so a
    request that pins both levels touches ONE LEAF.  Same protocol:
    orders-derived rows with a = k % 4 (say, date bucket) and
    b = (k div 4) % 4 (say, source) — 16 leaves either way — and a
    takedown pinning both (`a = 3 AND b = 1 AND k % 5 = 0`, one leaf,
    partially).  Arms: unpartitioned (full rewrite), single-level on
    `a` (the best a one-column table can scope: 1/4), two-level
    [a, b] (1/16).  The single-level arm's rewrite is 4x the
    two-level arm's BY CONSTRUCTION of the layout — the measurement
    pins that the implementation actually achieves it as the table
    grows.
    """
    import shutil
    import tempfile

    from health_data_transformation_spark.snapshots import SnapshotTable
    from health_data_transformation_spark.sources.tables import load_table

    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    orders = load_table(spark, base_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 4).cast("int").alias("a"),
        ((F.col("o_orderkey") / 4).cast("long") % 4).cast("int").alias("b"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )

    def du(dirs: list[str]) -> int:
        total = 0
        for d in dirs:
            for dirpath, _dn, filenames in os.walk(d):
                for f in filenames:
                    total += os.path.getsize(os.path.join(dirpath, f))
        return total

    print("\n=== §8.14b takedown cost: two-level vs single-level ===")
    print("delete a = 3 AND b = 1 AND k % 5 = 0 (1 of 16 leaves, partially)")
    stage = tempfile.mkdtemp(prefix="hdt_snapdel2_")
    for mult in (1, 4, 16):
        df = base
        if mult > 1:
            reps = spark.range(mult).select(F.col("id").alias("_rep"))
            df = base.crossJoin(reps).select(
                (F.col("k") * mult + F.col("_rep")).alias("k"),
                "a",
                "b",
                "cents",
            )
        df = df.localCheckpoint()
        n = df.count()
        for label, kwargs in (
            ("unpartitioned", {}),
            ("single-level a", {"partition_by": "a"}),
            ("two-level a x b", {"partition_by": ["a", "b"]}),
        ):
            root = os.path.join(stage, f"{label.replace(' ', '_')}_{mult}x")
            shutil.rmtree(root, ignore_errors=True)
            t = SnapshotTable(spark, root, **kwargs)
            t.commit_overwrite(df)
            v1_dirs = set(t._read_manifest(1)["dirs"])
            t0 = time.time()
            t.commit_delete("a = 3 AND b = 1 AND k % 5 = 0")
            wall = time.time() - t0
            new_dirs = [
                d for d in t._read_manifest(2)["dirs"] if d not in v1_dirs
            ]
            print(
                f"{mult:>3}x ({n:>8,} rows) {label:>16}: delete "
                f"{wall:5.1f}s, rewrote {du(new_dirs) / 1e6:8.1f} MB "
                f"in {len(new_dirs)} new dir(s)"
            )
    shutil.rmtree(stage, ignore_errors=True)


def measure_ivf_balance(spark) -> None:
    """§8.13b (r11, VERDICT r10 task #7): what Lloyd refinement buys.

    ``build_ivf_cells`` seeds centroids as the n_cells lowest-id
    vectors — deterministic but arbitrary; cell balance (and therefore
    probe selectivity: the probed fraction of the corpus is the SUM of
    the probed cells' sizes, not n_probes/n_cells) was unmeasured.
    This compares, on the sf0.1 embeddings (n_cells=16):

      * arm 'seed':   build_ivf_store (lowest-id centroids, cosine
                      assignment);
      * arm 'lloydN': build_ivf_store_lloyd with rounds=N integer
                      Lloyd refinement (exact-integer d2 assignment);

    reporting the cell-size distribution (max/mean ratio = the skew
    number; a perfectly balanced quantizer is 1.0), the fraction of
    the corpus a 4-probe query scans in the WORST case (top-4 cell
    mass), and recall@3 for the 8 q341 anchors vs the exact arm.
    """

    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # second dataset: the §8.10 embdup corpus — 40% of vectors in one
    # template cluster, so the 16 lowest-id seeds (ids 0-3 ARE the
    # templates) collapse several centroids into that cluster; this is
    # the clustered regime Lloyd refinement exists for (the uniform
    # synthetic table below is the null case — near-uniform vectors on
    # the sphere are balanced under ANY deterministic seeding)
    embdup_dest = "/tmp/hdt_embdup_sf5"
    build_embdup_corpus(spark, 5, embdup_dest)
    for ds_label, ds_path in (
        ("uniform", f"{base_dir}/embeddings.parquet"),
        ("embdup", f"{embdup_dest}/embeddings.parquet"),
    ):
        _ivf_balance_one(spark, ds_label, ds_path)


def _ivf_balance_one(spark, ds_label: str, path: str) -> None:
    from health_data_transformation_spark.functions.vector import dot, norm
    from health_data_transformation_spark.operators import topk as K
    from health_data_transformation_spark.operators.similarity import (
        build_ivf_store,
        build_ivf_store_lloyd,
        ivf_lloyd_search_batch,
        ivf_search_batch,
    )

    e = spark.read.parquet(path).select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") >= 8)
    anchors = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    n_corpus = corpus.count()

    # exact arm once (ground truth for recall@3)
    q = anchors.withColumn("_qnorm", norm("qv"))
    quant = F.lit(float(10 ** 6))
    sim = dot(F.col("embedding"), F.col("qv")) / (
        norm(F.col("embedding")) * F.col("_qnorm")
    )
    cand = corpus.crossJoin(F.broadcast(q)).select(
        "query_id", F.col("vec_id").alias("nid"),
        (F.floor(sim * quant) / quant).alias("sim"),
    )
    exact = (
        K.top_k_per_group_scalable(
            cand, ["query_id"], [F.desc("sim"), F.asc("nid")], 3
        )
        .select("query_id", "nid")
        .localCheckpoint()
    )

    print(f"\n=== §8.13b IVF cell balance ({ds_label}): seed vs Lloyd ===")
    print(f"corpus {n_corpus} vectors, n_cells=16, n_probes=4, 8 anchors")
    arms = [("seed", None)] + [(f"lloyd{r}", r) for r in (1, 2)]
    for label, rounds in arms:
        t0 = time.time()
        if rounds is None:
            assigned, cents = build_ivf_store(corpus, n_cells=16)
        else:
            assigned, cents = build_ivf_store_lloyd(
                corpus, n_cells=16, rounds=rounds
            )
        sizes = sorted(
            r["n"]
            for r in assigned.groupBy("cell")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        build_wall = time.time() - t0
        mean = sum(sizes) / len(sizes)
        top4 = sum(sizes[-4:])
        t0 = time.time()
        search = (
            ivf_search_batch(assigned, cents, anchors, k=3, n_probes=4)
            if rounds is None
            else ivf_lloyd_search_batch(
                assigned, cents, anchors, k=3, n_probes=4
            )
        )
        got = search.select("query_id", F.col("vec_id").alias("nid"))
        n_hit = exact.join(got, ["query_id", "nid"]).count()
        probe_wall = time.time() - t0
        print(
            f"{label:>7}: cells {len(sizes)}, max/mean "
            f"{sizes[-1] / mean:4.2f} (max {sizes[-1]}, min {sizes[0]}), "
            f"worst-4-cell mass {top4 / n_corpus:5.1%}, "
            f"recall@3 {n_hit}/24, build {build_wall:.1f}s, "
            f"probe+recall {probe_wall:.1f}s"
        )


def measure_ivf_store(spark) -> None:
    """§8.13 (r10): what the PERSISTED IVF index buys at serving time.

    q73's recompute path rebuilds the coarse quantizer per query:
    centroid pick + a corpus x 16-centroid broadcast crossJoin + a
    per-vector row_number window (a FULL SHUFFLE of the vector table)
    — per QUERY.  ``build_ivf_store``/``ivf_search_stored`` pay that
    once per corpus delivery; a query then scores 16 stored centroids
    and scans only the probed cells of the cell-sorted store.  This
    measures the divergence as the corpus grows with the query load
    held fixed:

      * corpora: sf0.1 embeddings replicated 1x/8x/32x (vec_id
        remapped ``id*mult+rep``, vectors unchanged — duplicate
        vectors only add ties, broken by id in both arms);
      * query load: 3 query vectors (base ids 0/1/2), each searched
        top-10 with n_probes=4 of 16 cells;
      * arms, results asserted identical per query:
        (a) rebuild — build_ivf_cells + ivf_search per query (the
            pre-r10 q73 shape when served repeatedly);
        (b) stored — ivf_search_stored against the parquet index.

    Store build wall and size are reported separately — paid once per
    delivery, not per query.  Both arms' probe cost grows with the
    corpus (the probed cells are ~n_probes/n_cells of the table —
    that part is inherent); what the store removes is the PER-QUERY
    rebuild: the corpus-wide assignment shuffle.
    """
    from health_data_transformation_spark.operators.similarity import (
        build_ivf_cells,
        build_ivf_store,
        ivf_search,
        ivf_search_stored,
    )
    from health_data_transformation_spark.sources.tables import load_table

    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = load_table(spark, base_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    queries = [
        (r["vec_id"], r["embedding"])
        for r in sorted(
            base.filter(F.col("vec_id") < 3).collect(),
            key=lambda r: r["vec_id"],
        )
    ]

    def du(path: str) -> int:
        total = 0
        for dirpath, _dirnames, filenames in os.walk(path):
            for f in filenames:
                total += os.path.getsize(os.path.join(dirpath, f))
        return total

    print("\n=== §8.13 IVF store: per-query wall vs corpus size ===")
    for mult in (1, 8, 32):
        root = f"/tmp/hdt_ivfgrow_{mult}x"
        cdir = os.path.join(root, "embeddings.parquet")
        if not os.path.exists(os.path.join(root, "_done")):
            shutil.rmtree(root, ignore_errors=True)
            os.makedirs(root, exist_ok=True)
            reps = base.crossJoin(
                spark.range(mult).select(F.col("id").alias("rep"))
            )
            reps.select(
                (F.col("vec_id") * mult + F.col("rep")).alias("vec_id"),
                "embedding",
            ).write.parquet(cdir)
            open(os.path.join(root, "_done"), "w").close()
        corpus = spark.read.parquet(cdir)
        n_corpus = corpus.count()

        adir = os.path.join(root, "ivf_assigned")
        kdir = os.path.join(root, "ivf_centroids")
        shutil.rmtree(adir, ignore_errors=True)
        shutil.rmtree(kdir, ignore_errors=True)
        t0 = time.time()
        assigned, cents = build_ivf_store(corpus, n_cells=16)
        assigned.sort("cell").write.parquet(adir)
        cents.write.parquet(kdir)
        t_build = time.time() - t0
        sa = spark.read.parquet(adir)
        sc = spark.read.parquet(kdir)

        walls = {"rebuild": 0.0, "stored": 0.0}
        for qid, qvec in queries:
            qdf = spark.range(1).select(
                F.array(*[F.lit(float(x)) for x in qvec])
                .cast("array<float>")
                .alias("qv")
            )
            t0 = time.time()
            ra, rc = build_ivf_cells(corpus, n_cells=16)
            got_rebuild = sorted(
                tuple(r) for r in ivf_search(ra, rc, qdf, 10, n_probes=4).collect()
            )
            walls["rebuild"] += time.time() - t0
            t0 = time.time()
            got_stored = sorted(
                tuple(r)
                for r in ivf_search_stored(sa, sc, qdf, 10, n_probes=4).collect()
            )
            walls["stored"] += time.time() - t0
            assert got_rebuild == got_stored, (
                f"arms disagree at {mult}x query {qid}"
            )
        print(
            f"{mult:>3}x: corpus {n_corpus:>8} vecs, store "
            f"{du(adir) / 1e6:7.1f} MB assigned + {du(kdir) / 1e6:4.2f} MB "
            f"centroids, build {t_build:5.1f}s | 3-query walls: "
            f"rebuild {walls['rebuild']:6.2f}s, "
            f"stored {walls['stored']:6.2f}s "
            f"({walls['rebuild'] / max(walls['stored'], 1e-9):4.1f}x)"
        )


def build_embdup_corpus(spark, n: int, dest: str) -> None:
    """Replicated ~sf1 inputs where embeddings is duplicate-saturated
    and cell-skewed (§8.10 — the §8.9 corpus shape for vectors).

    Deterministic per-row assignment (xxhash64 of vec_id, crc32 salt —
    reproducible bit-for-bit across reruns, rows keyed not collected):
      * 20% exact template copies: the vector of one of replica-0's
        vec_id 0-3, byte-identical — the deterministic-encoder-on-
        boilerplate class; each template owns a ~2.5k-member exact
        cluster at n=25 (one signature bucket, C(g,2) pairs inside).
      * 20% near template copies: one hash-picked coordinate shifted
        by a hash-picked epsilon (1-7 per-mille) — 448 distinct
        variants per template that SURVIVE exact dedup and still share
        the template's signature: the irreducibly-quadratic class the
        bucket cap exists for.
      * template copies (both kinds) take label 0 — the hot IVF cell
        (~44% of the corpus) every per-cell operator must survive.
      * the rest jitter one vec_id-picked coordinate by a hash-picked
        +-1e-2: byte-distinct near-dups of their base vector (the
        rep{i} analogue), so the distinct arm measures SIGNATURE-SPACE
        collisions rather than accidental byte equality.
    """
    from registry_stress import build_replicated

    build_replicated(spark, n, dest)
    marker = os.path.join(dest, "_embdup")
    if os.path.exists(marker):
        return
    path = os.path.join(dest, "embeddings.parquet")
    df = spark.read.parquet(path)
    templates = [
        list(r["embedding"])
        for r in sorted(
            df.filter(F.col("vec_id").isin([0, 1, 2, 3]))
            .select("vec_id", "embedding")
            .collect(),
            key=lambda r: r["vec_id"],
        )
    ]
    assert len(templates) == 4 and all(len(t) == 64 for t in templates)
    m = 1_000_003
    h = F.abs(
        F.xxhash64(
            F.col("vec_id").cast("string"),
            F.lit(zlib.crc32(b"embdup-corpus") % m),
        )
    )
    tmpl = F.element_at(
        F.array(
            *[F.array(*[F.lit(float(x)) for x in t]) for t in templates]
        ),
        ((h / 100).cast("long") % 4 + 1).cast("int"),
    )
    exact = F.transform(tmpl, lambda x: x.cast("float"))
    pos = (h / 800).cast("long") % 64
    eps = ((h % 7) + 1).cast("double") / 1000.0
    near = F.transform(
        tmpl,
        lambda x, i: F.when(i == pos, x + eps).otherwise(x).cast("float"),
    )
    jpos = F.col("vec_id") % 64
    jeps = ((h % 2001).cast("double") - 1000.0) / 100000.0
    jitter = F.transform(
        F.col("embedding"),
        lambda x, i: F.when(i == jpos, x.cast("double") + jeps)
        .otherwise(x.cast("double"))
        .cast("float"),
    )
    bucket = h % 100
    new_emb = (
        F.when(bucket < 20, exact)   # 20% exact template copies
        .when(bucket < 40, near)     # 20% near template copies
        .otherwise(jitter)           # byte-distinct near-dup jitter
    )
    new_label = F.when(bucket < 40, F.lit(0)).otherwise(F.col("label"))
    out = df.withColumn("embedding", new_emb).withColumn("label", new_label)
    out.write.mode("overwrite").parquet(path + ".tmp")
    shutil.rmtree(path)
    os.rename(path + ".tmp", path)
    print(
        "embdup-saturated embeddings written (40% template copies, "
        "hot label-0 cell)"
    )
    open(marker, "w").close()


def measure_emb_design_limit(spark, dest: str) -> None:
    """§8.10's three knobs, measured on the saturated vector corpus.

    (a) analytic exact-copy truth (identical vectors have cosine 1: a
    g-copy group holds C(g,2) true pairs, no enumeration);
    (b) the UNCAPPED q100 equi-join's output volume as a function of
    n_planes, computed LINEARLY from the signature histogram
    (sum C(bucket,2)) — never materialized: the signature space must
    scale with the corpus or random collisions alone go quadratic;
    (c) what exact_vector_prepass changes at 16 planes (bucket profile
    before/after, whether the cap still fires and on what), plus the
    timed capped+prepassed run.
    """
    from health_data_transformation_spark.operators import similarity as S
    from health_data_transformation_spark.sources.tables import load_table

    e = load_table(spark, dest, "embeddings")
    groups = (
        e.groupBy("embedding")
        .agg(F.count("*").alias("g"), F.min("vec_id").alias("gid"))
        .filter(F.col("g") >= 2)
    )
    truth = groups.agg(
        F.count("*").alias("n_groups"),
        F.sum(F.expr("g * (g - 1) div 2")).alias("true_pairs"),
        F.sum(F.col("g") - 1).alias("droppable"),
        F.max("g").alias("max_group"),
    ).collect()[0]
    print(
        f"exact-copy truth: {truth['n_groups']} groups, max size "
        f"{truth['max_group']}, {truth['true_pairs']} pairs, "
        f"{truth['droppable']} droppable members"
    )

    def sig_profile(frame, planes):
        hist = (
            S.embedding_lsh_signature(frame, planes)
            .groupBy("lsh_sig")
            .agg(F.count("*").alias("c"))
        )
        return hist.agg(
            F.count("*").alias("n_sigs"),
            F.max("c").alias("max_bucket"),
            F.sum(F.expr("c * (c - 1) div 2")).alias("pair_volume"),
            F.sum(
                F.when(F.col("c") > _EMB_Q100_CAP, 1).otherwise(0)
            ).alias("n_over_cap"),
        ).collect()[0]

    for planes in (8, 16, 24):
        p = sig_profile(e, planes)
        print(
            f"uncapped q100 volume at n_planes={planes}: "
            f"{p['n_sigs']} distinct sigs, max bucket {p['max_bucket']}, "
            f"{p['pair_volume']} pairs ({p['n_over_cap']} buckets over "
            f"cap {_EMB_Q100_CAP})"
        )

    reps, _g = S.exact_vector_prepass(e)
    a = sig_profile(reps, _EMB_Q100_PLANES)
    print(
        f"after exact_vector_prepass at n_planes={_EMB_Q100_PLANES}: "
        f"{a['n_sigs']} sigs over {reps.count()} reps, max bucket "
        f"{a['max_bucket']}, {a['pair_volume']} pairs, "
        f"{a['n_over_cap']} buckets over cap — exact-copy coverage is "
        f"100% by construction via the groups table "
        f"({truth['true_pairs']} pairs held compactly)"
    )
    t0 = time.time()
    n_pairs = _emb_q100(spark, dest).count()
    print(
        f"capped+prepassed q100 variant (planes={_EMB_Q100_PLANES}, "
        f"cap={_EMB_Q100_CAP}): {n_pairs} pairs in {time.time() - t0:.1f}s"
    )


def build_skewed(spark, n: int, dest: str) -> None:
    from registry_stress import build_replicated

    from health_data_transformation_spark.sources.tables import load_table

    build_replicated(spark, n, dest)
    marker = os.path.join(dest, "_skewed")
    if os.path.exists(marker):
        return
    # remap the fact keys to Zipf ranks INSIDE the replica-0 dim domain
    # (user_id in [0,1500), o_custkey in [0,15000)) so FKs stay valid
    for table, key, n_keys, salt in (
        ("events", "user_id", 1500, "zipf-ev"),
        ("orders", "o_custkey", 15000, "zipf-ord"),
    ):
        path = os.path.join(dest, f"{table}.parquet")
        df = spark.read.parquet(path)
        m = 1_000_003
        # crc32, not builtin hash(): PYTHONHASHSEED randomizes hash()
        # per process, which made every rebuild remap the Zipf ranks
        # differently — committed SCALE.md numbers must be reproducible
        u = (
            (F.abs(F.xxhash64(F.col(key) + F.lit(zlib.crc32(salt.encode()) % m))) % m + 1)
            / (m + 1)
        ).cast("double")
        skewed = df.withColumn(key, zipf_rank(u, n_keys) - 1)
        skewed.write.mode("overwrite").parquet(path + ".tmp")
        shutil.rmtree(path)
        os.rename(path + ".tmp", path)
        print(f"skewed {table}.{key} over {n_keys} keys (zipf s={ZIPF_S})")
    open(marker, "w").close()


def event_files(log_dir: str) -> list[str]:
    """Spark 4 writes a v2 event-log DIRECTORY per app containing one
    or more ``events_N_...`` files; older builds write a single file."""
    out: list[str] = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith("events_") or f.startswith("local-"):
                out.append(os.path.join(root, f))
    return sorted(out)


def task_durations_since(
    log_dir: str, offsets: dict[str, int]
) -> list[dict]:
    """Parse SparkListenerTaskEnd events appended past the recorded
    per-file offsets (mutated in place); returns per-stage task lists."""
    stages: dict[int, list[float]] = {}
    for path in event_files(log_dir):
        with open(path) as fh:
            fh.seek(offsets.get(path, 0))
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                info = ev.get("Task Info", {})
                dur = (
                    info.get("Finish Time", 0) - info.get("Launch Time", 0)
                ) / 1e3
                stages.setdefault(ev.get("Stage ID", -1), []).append(dur)
            offsets[path] = fh.tell()
    return [
        {"stage": sid, "tasks": sorted(ds)}
        for sid, ds in sorted(stages.items())
    ]


def main() -> None:
    args = sys.argv[1:]
    r6 = "--r6" in args
    dup = "--dup" in args
    emb = "--emb" in args
    # --curve (§8.11): build/reuse the --dup corpus, skip the query
    # wave, run only the budget-recall-curve measurement
    curve = "--curve" in args
    # --ingest (§8.11b): same corpus, only the admission measurement
    ingest = "--ingest" in args
    # --capstale (§8.11d): same corpus, staleness-guard boundary arms
    capstale = "--capstale" in args
    # --store (§8.12): self-building store-growth measurement only
    store = "--store" in args
    # --ivf (§8.13): self-building IVF-store serving measurement only
    ivf = "--ivf" in args
    # --ivfbalance (§8.13b): seed-vs-Lloyd cell balance + recall
    ivfbal = "--ivfbalance" in args
    # --snapdelete (§8.14): partitioned vs unpartitioned takedown cost
    snapdel = "--snapdelete" in args
    # --snapdelete2 (§8.14b): two-level vs single-level takedown cost
    snapdel2 = "--snapdelete2" in args
    dup = dup or curve or ingest or capstale
    args = [
        a
        for a in args
        if a not in ("--r6", "--dup", "--emb", "--curve", "--ingest",
                     "--capstale", "--store", "--ivf", "--ivfbalance",
                     "--snapdelete", "--snapdelete2")
    ]
    n = int(args[0]) if args and args[0].isdigit() else (25 if emb else 10)
    names = [a for a in args if not a.isdigit()] or (
        [] if curve or ingest or capstale or store or ivf or ivfbal
        or snapdel or snapdel2
        else WAVE_EMB if emb else WAVE_DUP if dup else WAVE_R6 if r6 else WAVE
    )

    import duckdb

    from check_oracle import TABLES, canon_frame

    import __spark_entry__ as entrymod

    log_dir = "/tmp/hdt_skew_eventlog"
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir, exist_ok=True)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .appName("skew-stress")
        # same heap budget as registry_stress's get_spark(): local mode
        # puts every executor thread in the driver JVM, and the default
        # 1g OOMs on q313's ~sf1 localCheckpointed model frame
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")  # parse as plain JSONL
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if store:
        # §8.12 builds its own 1x/8x/32x corpora; no wave, no oracle
        measure_store_growth(spark)
        print("store-growth wave done")
        return

    if snapdel:
        measure_snapshot_delete(spark)
        print("snapshot-delete wave done")
        return

    if snapdel2:
        measure_snapshot_delete2(spark)
        print("snapshot-delete2 wave done")
        return

    if ivfbal:
        measure_ivf_balance(spark)
        print("ivf-balance wave done")
        return

    if ivf:
        # §8.13 builds its own 1x/8x/32x corpora; no wave, no oracle
        measure_ivf_store(spark)
        print("ivf-store wave done")
        return

    mode = "embdup" if emb else "dup" if dup else "skew_r6" if r6 else "skew"
    dest = f"/tmp/hdt_{mode}_sf{n}"
    t0 = time.time()
    builder = (
        build_embdup_corpus
        if emb
        else build_dup_corpus if dup else build_skewed_r6 if r6 else build_skewed
    )
    builder(spark, n, dest)
    print(f"{mode} inputs ready in {time.time() - t0:.1f}s at {dest}")

    con = duckdb.connect()
    for t in TABLES:
        # Spark writes directory-style parquet; DuckDB wants a glob
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{dest}/{t}.parquet/*.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if dup:
        # capped statement + cap-mirroring oracle (see _DUP_Q162_CAP)
        qs = {**qs, "q162_simhash_banded": _dup_q162}
        oracles = {**oracles, "q162_simhash_banded": _dup_q162_oracle()}
    if emb:
        # §8.10 wave variants: capped/prepassed statements + mirroring
        # oracles (see _EMB_Q100_* / _EMB_Q43_CAP)
        qs = {
            **qs,
            "q100_embedding_lsh_pairs": _emb_q100,
            "q43_embedding_near_dup": _emb_q43,
        }
        oracles = {
            **oracles,
            "q100_embedding_lsh_pairs": _emb_q100_oracle(),
            "q43_embedding_near_dup": _emb_q43_oracle(),
        }
    offsets = {p: os.path.getsize(p) for p in event_files(log_dir)}

    failures: list[str] = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, dest).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        wall = time.time() - t0
        # flush the event log before reading it
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        stages = task_durations_since(log_dir, offsets)
        worst = None
        for st in stages:
            ts = st["tasks"]
            if len(ts) < MIN_TASKS:
                continue
            med = statistics.median(ts)
            if med < MIN_MEDIAN_S:
                continue
            ratio = ts[-1] / med
            if worst is None or ratio > worst[0]:
                worst = (ratio, st["stage"], med, ts[-1], len(ts))
        straggle = ""
        if worst:
            r, sid, med, mx, k = worst
            straggle = (
                f" worst-stage {sid}: {k} tasks median {med:.2f}s "
                f"max {mx:.2f}s ratio {r:.1f}x"
            )
            if r > STRAGGLER_FACTOR:
                failures.append(name)
                print(f"STRAGGLER {name}: {wall:.1f}s{straggle}")
                continue
        # wrong-answer gate: the DuckDB oracle on the SAME skewed data
        verdict = "rows-only"
        if name in oracles:
            odf = con.execute(oracles[name]).fetchdf()
            if canon_frame(sdf) == canon_frame(odf):
                verdict = "oracle-match"
            else:
                failures.append(name)
                print(
                    f"WRONG {name}: {wall:.1f}s spark={len(sdf)} "
                    f"oracle={len(odf)} rows (values differ)"
                )
                continue
        print(f"OK    {name}: {wall:.1f}s {verdict} rows={len(sdf)}{straggle}")
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    if ingest:
        measure_ingest_budget(spark, dest)
    elif capstale:
        measure_cap_staleness(spark, dest)
    elif curve:
        measure_budget_recall_curve(spark, dest)
    elif dup:
        measure_cap_recall(spark, dest)
        measure_prededup_effect(spark, dest)
    if emb:
        measure_emb_design_limit(spark, dest)
    print("skew wave clean: no wrong answers, no stragglers >5x median")


if __name__ == "__main__":
    main()
