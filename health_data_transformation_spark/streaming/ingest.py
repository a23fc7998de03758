"""Structured Streaming ingest: the weekly-file cadence as a file-source
stream (SURVEY.md §2.5, §7.1 step 6).

The reference runs `python load_hhs.py <csv>` manually per file drop
(README.md:26-46).  Streaming form: watch a landing directory, process
newly arrived files exactly once (checkpointed source offsets),
``Trigger.AvailableNow`` per run — same batch semantics, no manual
bookkeeping of which files were loaded.  Each micro-batch reuses the
*batch* loader via foreachBatch, so validation/dedup/idempotent-append
semantics are identical by construction — and re-processing after a
crash is safe because the append itself is an idempotent anti-join
(D4), giving effectively-exactly-once end to end.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from ..catalog import Warehouse
from ..functions.sqltext import literal, with_columns
from ..ingest import LoadReport, load_hhs_frame, load_quality_frame
from ..schemas import CMS_RAW_SCHEMA, HHS_RAW_SCHEMA
from ..sources.csv import typed_hhs
from .bounded import BoundedStream, run_available_now

#: file-source streams require a declared schema; CSV schema matches by
#: POSITION, so landing files must carry exactly these columns in order
HHS_STREAM_SCHEMA = StructType(
    [StructField(f.name, StringType()) for f in HHS_RAW_SCHEMA.fields]
)


def stream_load_hhs(
    spark: SparkSession,
    landing_dir: str,
    warehouse: Warehouse,
    checkpoint_dir: str,
    timeout_sec: int = 300,
) -> list[LoadReport]:
    """Process all unseen files in ``landing_dir`` into the warehouse.

    Returns one LoadReport per micro-batch.  Run repeatedly as new files
    land; the checkpoint remembers processed files.
    """
    reports: list[LoadReport] = []

    stream = (
        spark.readStream.schema(HHS_STREAM_SCHEMA)
        .option("header", True)
        .csv(landing_dir)
    )
    typed = typed_hhs(stream)

    def process(batch_df, batch_id: int) -> None:
        reports.append(load_hhs_frame(batch_df, warehouse))

    run_available_now(
        spark,
        typed.writeStream.foreachBatch(process).option(
            "checkpointLocation", checkpoint_dir
        ),
        timeout_sec,
    )
    return reports


def stream_load_quality(
    spark: SparkSession,
    landing_dir: str,
    warehouse: Warehouse,
    checkpoint_dir: str,
    timeout_sec: int = 300,
) -> list[LoadReport]:
    """Streaming CMS quality ingest: the per-file CLI ``data_date`` arg
    (load_quality.py:153-158) becomes a date embedded in the landing
    filename (``quality-YYYY-MM-DD.csv``) extracted per row via
    input_file_name() — each file drop is self-describing, the batch
    loader's stamp semantics are preserved exactly.
    """
    reports: list[LoadReport] = []

    stream = (
        spark.readStream.schema(CMS_RAW_SCHEMA)
        .option("header", True)
        .csv(landing_dir)
    )
    date = literal(r"(\d{4}-\d{2}-\d{2})")
    stamped = with_columns(stream, {
        "data_date": f"to_date(regexp_extract(input_file_name(), {date}, 1), 'yyyy-MM-dd')"
    })

    def process(batch_df, batch_id: int) -> None:
        reports.append(load_quality_frame(batch_df, warehouse))

    run_available_now(
        spark,
        stamped.writeStream.foreachBatch(process).option(
            "checkpointLocation", checkpoint_dir
        ),
        timeout_sec,
    )
    return reports


def build_text_store(spark, sf_dir: str, dest: str) -> str:
    """q181's one-time store build: the stored corpus (doc_id % 7 != 3)
    -> LSH band-bucket + token-set parquet stores under ``dest``,
    sorted on the probe keys, admission cap derived corpus-side and
    stamped (see stream_incremental_dedup).  Split out so bench.py's
    store_split can time build and stream separately (VERDICT r10
    task #5)."""
    import os

    import pyspark.sql.functions as F

    from ..operators.dedup import ADMISSION_CAP_BUDGET, build_lsh_store
    from ..sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(~(F.col("doc_id") % 7 == 3))
    buckets, tokens = build_lsh_store(
        corpus, band_size=4, num_hashes=8, cap_budget=ADMISSION_CAP_BUDGET
    )
    from ..functions.actions import overlap_actions

    overlap_actions([  # independent writes overlapped (guide §2.6, r13)
        lambda: buckets.sort("bucket").write.parquet(
            os.path.join(dest, "_store_buckets")),
        lambda: tokens.sort("id_c").write.parquet(
            os.path.join(dest, "_store_tokens")),
    ])
    return dest


def build_vector_store(spark, sf_dir: str, dest: str) -> str:
    """q338's one-time store build — the vector twin of
    :func:`build_text_store` (signature buckets + vectors with
    precomputed norms, derived admission cap stamped)."""
    import os

    import pyspark.sql.functions as F

    from ..operators.dedup import (
        ADMISSION_CAP_BUDGET,
        build_embedding_lsh_store,
    )
    from ..sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = e.filter(~(F.col("vec_id") % 7 == 3))
    buckets, vectors = build_embedding_lsh_store(
        corpus, cap_budget=ADMISSION_CAP_BUDGET
    )
    from ..functions.actions import overlap_actions

    overlap_actions([  # independent writes overlapped (guide §2.6, r13)
        lambda: buckets.sort("lsh_sig").write.parquet(
            os.path.join(dest, "_store_buckets")),
        lambda: vectors.sort("id_c").write.parquet(
            os.path.join(dest, "_store_vectors")),
    ])
    return dest


def stream_incremental_dedup(
    spark,
    sf_dir: str,
    timeout_sec: int = 300,
    store_dir: str | None = None,
):
    """Streaming near-dup admission: each arriving microbatch of new
    documents is gated against the STORED corpus before landing.

    The batch twin is ``operators.dedup.lsh_incremental_matches``
    (q178); here the batch documents (doc_id % 7 = 3) arrive as TWO
    microbatch files (split by doc parity, maxFilesPerTrigger=1) and
    ``foreachBatch`` runs the identical admission semantics per
    microbatch, appending verdicts to a result sink.  Because admission
    only ever consults the stored corpus (never other batch docs), the
    union of per-microbatch verdicts EQUALS the batch result — which is
    what the q181 oracle (the same relational statement as q178's)
    verifies end to end.  State story at 100 TB: the corpus signature
    table is the probe-side index; streaming state itself is empty (no
    watermark needed — admission is stateless given the store), so
    arrival granularity changes nothing.

    Since r9 the "probe-side index" line is literal: the corpus's LSH
    store (``dedup.build_lsh_store`` — band buckets + token sets) is
    PERSISTED once before the stream starts, and each microbatch
    probes it with ``lsh_incremental_matches_stored`` — signing only
    the arrival.  The prior shape re-signed and re-tokenized the full
    corpus INSIDE every ``foreachBatch`` call, i.e. O(history) per
    microbatch — the §8.12-measured cost the store exists to remove
    (and the worst place to pay it: microbatches are the highest-
    frequency ingest path).  Results are knob-for-knob identical
    (test_lsh_store_path_equals_recompute; q181's oracle re-verifies
    end to end).
    """
    import os

    import pyspark.sql.functions as F

    from ..operators.dedup import lsh_incremental_matches_stored
    from ..sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    in_batch = F.col("doc_id") % 7 == 3
    corpus = d.filter(~in_batch)
    batch_docs = d.filter(in_batch)

    run = BoundedStream(spark, "inc")
    out_dir = run.out("verdicts")

    # the corpus's probe-side index, persisted ONCE before any arrival
    # (at 100 TB this is the stored corpus's own ingest-time signature
    # pass, not per-stream work); bucket-/id-sorted so probe IN filters
    # can prune row groups
    # cap_budget derives the admission cap CORPUS-SIDE at build time
    # and stamps it in the store's footer metadata (VERDICT r10 wrong
    # #3: the previous hard-coded max_bucket=50 fails OPEN — §8.11b /
    # §8.11c — as corpus buckets outgrow the constant; a per-microbatch
    # pair_budget would make admission batch-dependent).  The probe
    # below reads the stamp by default, so admission stays
    # batch-independent with no constant in this file.
    # ``store_dir`` reuses a store persisted by build_text_store
    # (bench.py's store_split times the build separately — VERDICT r10
    # task #5); default builds it inline, the delivery-cycle shape the
    # q181 differential gates end to end, as a staged input (the file
    # source skips its ``_store_*`` dirs) removed with the staging.
    if store_dir is None:
        store_dir = run.stage
        build_text_store(spark, sf_dir, store_dir)
    sb = spark.read.parquet(os.path.join(store_dir, "_store_buckets"))
    st = spark.read.parquet(os.path.join(store_dir, "_store_tokens"))

    run.stage_file(batch_docs.filter(F.col("doc_id") % 2 == 0), "arrival1.parquet")
    run.stage_file(batch_docs.filter(F.col("doc_id") % 2 == 1), "arrival2.parquet")

    def admit(bdf, batch_id: int) -> None:
        # max_bucket defaults to the store's stamped admission cap
        lsh_incremental_matches_stored(
            sb, st, bdf, band_size=4, num_hashes=8, min_jaccard=0.4,
        ).write.mode("append").parquet(out_dir)

    # NO narrow_shuffle here (r12): this stream is STATELESS (admission
    # consults only the persisted store; foreachBatch has no stateful
    # operator, so there are no per-partition state stores to amortize)
    # and the per-batch exact-Jaccard verify is the CPU-dense stage —
    # capping shuffle width to 8 only throttled it to a quarter of the
    # machine.  The stateful streams (windows.py, the interval joins)
    # keep the cap, which is what it exists for.
    run.run(
        run.source(batch_docs.schema, max_files=1)
        .writeStream.foreachBatch(admit),
        timeout_sec,
    )
    return spark.read.parquet(out_dir)


def stream_embedding_admission(
    spark,
    sf_dir: str,
    timeout_sec: int = 300,
    store_dir: str | None = None,
):
    """Streaming SemDeDup admission for VECTORS: each arriving
    microbatch of embeddings is gated against the stored corpus's
    persisted signature index before landing — the vector twin of
    :func:`stream_incremental_dedup` (q181), completing the streaming
    surface's symmetry with the batch family
    (q178/q331/q332 text :: q333/q334 vectors :: q181/q338 streams).

    The corpus's embedding LSH store (``dedup.build_embedding_lsh_store``
    — signature buckets + vectors with precomputed norms) is persisted
    ONCE before the stream starts; batch vectors (vec_id % 7 = 3)
    arrive as TWO microbatch files (split by id parity,
    maxFilesPerTrigger=1) and ``foreachBatch`` probes the store with
    ``embedding_incremental_matches_stored`` — signing only the
    arrival.  The bucket guard is CORPUS-SIDE on purpose: a
    per-microbatch ``pair_budget`` would derive its keep-set from that
    microbatch's probe counts, so the union of arrival verdicts could
    differ from the whole-batch result; a corpus-side cap is
    batch-independent, so admission is stateless given the store and
    the union over ANY arrival granularity EQUALS the batch result.
    Since r11 the cap is DERIVED at build time
    (``dedup.derive_admission_cap_stats``: min(cap_budget, max corpus bucket
    size) for this 1-band store) and stamped in the store's footer
    metadata — §8.11b/§8.11c measured the previous hard-coded constant
    failing OPEN as buckets outgrow it — and the probe reads the stamp
    by default; the q338 oracle (q333's statement with the derived-cap
    CTEs swapped in) verifies the whole story end to end.  State story
    at 100 TB: identical to q181 — the store is the probe-side index,
    streaming state itself is empty, no watermark needed.
    """
    import os

    import pyspark.sql.functions as F

    from ..operators.dedup import embedding_incremental_matches_stored
    from ..sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    in_batch = F.col("vec_id") % 7 == 3
    corpus = e.filter(~in_batch)
    batch_vecs = e.filter(in_batch)

    run = BoundedStream(spark, "emb")
    out_dir = run.out("verdicts")

    # derived corpus-side admission cap, stamped at build time — see
    # stream_incremental_dedup (VERDICT r10 wrong #3); ``store_dir``
    # reuses a build_vector_store persist (bench store_split)
    if store_dir is None:
        store_dir = run.stage
        build_vector_store(spark, sf_dir, store_dir)
    sb = spark.read.parquet(os.path.join(store_dir, "_store_buckets"))
    sv = spark.read.parquet(os.path.join(store_dir, "_store_vectors"))

    run.stage_file(batch_vecs.filter(F.col("vec_id") % 2 == 0), "arrival1.parquet")
    run.stage_file(batch_vecs.filter(F.col("vec_id") % 2 == 1), "arrival2.parquet")

    def admit(bdf, batch_id: int) -> None:
        # max_bucket defaults to the store's stamped admission cap
        embedding_incremental_matches_stored(
            sb, sv, bdf, min_cosine=0.3,
        ).write.mode("append").parquet(out_dir)

    # stateless admission stream: no narrow_shuffle, same reasoning as
    # stream_incremental_dedup (the exact-cosine verify is CPU-dense
    # and there is no streaming state to amortize)
    run.run(
        run.source(batch_vecs.schema, max_files=1)
        .writeStream.foreachBatch(admit),
        timeout_sec,
    )
    return spark.read.parquet(out_dir)


def stream_static_enrich(
    spark,
    sf_dir: str,
    lo: str = "2024-01-08",
    hi: str = "2024-01-15",
    timeout_sec: int = 300,
):
    """Stream-static enrichment: an event stream joined per-microbatch
    against a broadcast dimension table (the canonical streaming shape:
    facts arrive, dims sit still).

    One week of events arrives as TWO microbatch files
    (maxFilesPerTrigger=1, split by event_id parity); ``foreachBatch``
    broadcast-joins each arrival against a deterministic event-type
    dimension (category + weight derived from the md5 hash family, so
    DuckDB can rebuild the identical dim relationally) and appends the
    enriched rows to a sink.  Enrichment is row-local — no state, no
    watermark — so the sink's union over any arrival granularity EQUALS
    the batch join; the q187 oracle verifies exactly that.  At 100 TB
    the dim is the broadcast side (|event types| rows) and the stream
    never shuffles: each microbatch is a map-side hash probe.
    """
    import pyspark.sql.functions as F

    from ..functions.deterministic import day_str
    from ..functions.text import hex_hash64
    from ..sources.tables import load_events_range

    ev = load_events_range(spark, sf_dir, lo=lo, hi=hi).select(
        "event_id", "ts", "user_id", "event_type"
    )

    h = hex_hash64(F.col("event_type"), salt="dim")
    cats = F.array(F.lit("critical"), F.lit("routine"), F.lit("audit"))
    dim = ev.select("event_type").distinct().select(
        "event_type",
        F.element_at(cats, (h % 3 + 1).cast("int")).alias("category"),
        (h % 10).cast("int").alias("weight"),
    )

    run = BoundedStream(spark, "enrich")
    out_dir = run.out("enriched")
    run.stage_file(ev.filter(F.col("event_id") % 2 == 0), "arrival1.parquet")
    run.stage_file(ev.filter(F.col("event_id") % 2 == 1), "arrival2.parquet")

    def enrich(bdf, batch_id: int) -> None:
        (
            bdf.join(F.broadcast(dim), "event_type")
            .select(
                "category",
                day_str("ts").alias("day"),
                "user_id",
                "weight",
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    run.run(
        run.source(ev.schema, max_files=1)
        .writeStream.foreachBatch(enrich),
        timeout_sec,
        state_partitions=8,
    )
    return spark.read.parquet(out_dir)


def stream_exactly_once_sink(
    spark,
    sf_dir: str,
    lo: str = "2024-01-08",
    hi: str = "2024-01-15",
    timeout_sec: int = 300,
):
    """Exactly-once delivery via an IDEMPOTENT sink, with the retry
    actually exercised: after the stream completes, the first batch is
    REPLAYED through the same writer (the at-least-once redelivery
    every real source eventually produces) and the sink must come out
    unchanged.

    The writer achieves idempotence the way production foreachBatch
    sinks do: output is partitioned by batch_id and written with
    dynamic partition overwrite, so re-processing a batch replaces its
    own partition byte-for-byte instead of appending a duplicate.  The
    q204 oracle is the plain batch statement over the week — an
    append-only sink would double the replayed batch and hash-mismatch.
    At 100 TB this is the foreachBatch exactly-once recipe verbatim:
    (epochId -> partition) + overwrite = retries are free.
    """
    import time as _time

    import pyspark.sql.functions as F

    from ..sources.tables import load_events_range

    ev = load_events_range(spark, sf_dir, lo=lo, hi=hi).select(
        "event_id", "ts", "user_id", "event_type"
    )
    arrival1 = ev.filter(F.col("event_id") % 2 == 0)

    run = BoundedStream(spark, "eos")
    out_dir = run.out("sink")
    # pin arrival order: the replay below assumes arrival1 WAS batch 0
    now = _time.time()
    run.stage_file(arrival1, "arrival1.parquet", now - 120)
    run.stage_file(ev.filter(F.col("event_id") % 2 == 1), "arrival2.parquet", now)

    def write_batch(bdf, batch_id: int) -> None:
        (
            bdf.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    run.run(
        run.source(ev.schema, max_files=1)
        .writeStream.foreachBatch(write_batch),
        timeout_sec,
        state_partitions=8,
    )

    # redelivery: batch 0's rows go through the SAME writer again (from
    # the frame the file was staged from; staging is gone with the run)
    write_batch(arrival1, 0)

    return spark.read.parquet(out_dir)


def stream_stream_interval_join(
    spark,
    sf_dir: str,
    lo: str = "2024-01-08",
    hi: str = "2024-01-15",
    timeout_sec: int = 300,
):
    """TRUE stream-stream event-time interval join (not foreachBatch):
    the click stream joins the purchase stream on user_id with the
    purchase inside [click_ts, click_ts + 2h] — the conversion-
    attribution shape, and the one Structured Streaming operator whose
    state lives on BOTH sides.

    Each side arrives from its own file source in two microbatches
    (split by event_id parity, mtimes pinned so arrival order is
    deterministic).  Both sides carry a 30-day watermark — wider than
    the data span, so NO join state is ever evicted and every match is
    emitted regardless of how the two sources interleave (the q192
    lesson applied in reverse: eviction is the only batching-order-
    dependent behavior, so the differential keeps eviction out of
    frame; q192 pins the eviction rule itself).  The sink's content
    therefore equals the batch interval join, which IS the q238
    oracle.  At 100 TB the join state is bounded by the watermark
    horizon x arrival rate per side, keyed and shuffled on user_id —
    the interval condition prunes within key groups.
    """
    import pyspark.sql.functions as F

    from ..sources.tables import load_events_range

    # one scan of events, materialized tiny, instead of re-scanning the
    # parquet (with the ts cast) once per staged side
    ev = (
        load_events_range(spark, sf_dir, lo=lo, hi=hi)
        .select("event_id", "ts", "user_id", "event_type")
        .filter(F.col("event_type").isin("click", "purchase"))
        .localCheckpoint()
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("user_id").alias("cu"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("user_id").alias("pu"),
    )

    run = BoundedStream(spark, "ssj")
    base = 1_700_000_000
    run.stage_file(clicks.filter(F.col("click_id") % 2 == 0), "clicks/c1.parquet", base)
    run.stage_file(
        clicks.filter(F.col("click_id") % 2 == 1), "clicks/c2.parquet", base + 10
    )
    run.stage_file(
        purchases.filter(F.col("purchase_id") % 2 == 0), "purchases/p1.parquet", base
    )
    run.stage_file(
        purchases.filter(F.col("purchase_id") % 2 == 1),
        "purchases/p2.parquet",
        base + 10,
    )

    cs = run.source(clicks.schema, "clicks", max_files=1).withWatermark(
        "click_ts", "30 days"
    )
    ps = run.source(purchases.schema, "purchases", max_files=1).withWatermark(
        "purchase_ts", "30 days"
    )
    joined = cs.join(
        ps,
        (F.col("cu") == F.col("pu"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 2 HOURS")
        ),
    ).select("cu", "click_id", "click_ts", "purchase_id", "purchase_ts")
    # join state on 2 shuffle partitions
    return run.to_parquet(joined, timeout_sec, state_partitions=2)


def stream_stream_left_outer(
    spark,
    sf_dir: str,
    lo: str = "2024-01-08",
    hi: str = "2024-01-10",
    timeout_sec: int = 300,
):
    """Stream-stream LEFT OUTER interval join — the state-machine case:
    matched pairs emit on arrival like the inner join (q238), but an
    UNMATCHED click can only emit its null row once the watermark
    proves no qualifying purchase can still arrive (click_ts + 2h
    below the watermark).  That makes null emission watermark-driven
    and hence batching-dependent — exactly the q192 lesson — so the
    differential stages arrivals to pin it:

    - batch 1 delivers ALL of January on BOTH sides in one file each
      (delivering the data split across batches with a 1-hour
      watermark would evict open click state before its match arrived
      and diverge from the batch oracle by construction);
    - batches 2 and 3 deliver far-future ADVANCER rows (2024-06-01 /
      2024-06-10, sentinel user) whose only job is to push the
      watermark past every January click's match horizon: the batch-2
      advancer raises the watermark, and batch 3 runs with that
      watermark so the evicted state's null rows actually flush (state
      transitions apply one batch AFTER the watermark that causes
      them — the measured rule q192 documents).

    Advancer rows are scaffolding and are filtered out of the
    returned frame; every January click provably reached its terminal
    state (matched or flushed-null), so the sink equals the batch
    LEFT JOIN the q244 oracle states.  At 100 TB the same advancer
    role is played by live traffic; the explicit staging here is what
    makes the semantics testable.
    """
    import pyspark.sql.functions as F

    from ..sources.tables import load_events_range

    # one scan of events, materialized tiny, instead of re-scanning the
    # parquet (with the ts cast) once per staged side
    ev = (
        load_events_range(spark, sf_dir, lo=lo, hi=hi)
        .select("event_id", "ts", "user_id", "event_type")
        .filter(F.col("event_type").isin("click", "purchase"))
        .localCheckpoint()
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("user_id").alias("cu"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("user_id").alias("pu"),
    )

    # advancers via spark.range: a pure-JVM LocalRelation.  The
    # createDataFrame path spins up Python workers per 1-row frame
    # (measured ~5 s per staged advancer write on this box).
    def advancer_clicks(ts: str, eid: int):
        return spark.range(0, 1, 1, 1).select(
            F.lit(eid).cast("long").alias("click_id"),
            F.lit(ts).cast("timestamp").alias("click_ts"),
            F.lit(999_999_999).cast("long").alias("cu"),
        )

    def advancer_purchases(ts: str, eid: int):
        return spark.range(0, 1, 1, 1).select(
            F.lit(eid).cast("long").alias("purchase_id"),
            F.lit(ts).cast("timestamp").alias("purchase_ts"),
            F.lit(999_999_999).cast("long").alias("pu"),
        )

    run = BoundedStream(spark, "sslo")
    base = 1_700_000_000
    run.stage_file(clicks, "clicks/c1.parquet", base)
    run.stage_file(
        advancer_clicks("2024-06-01 00:00:00", -1), "clicks/c2.parquet", base + 10
    )
    run.stage_file(
        advancer_clicks("2024-06-10 00:00:00", -2), "clicks/c3.parquet", base + 20
    )
    run.stage_file(purchases, "purchases/p1.parquet", base)
    run.stage_file(
        advancer_purchases("2024-06-01 00:00:00", -1), "purchases/p2.parquet", base + 10
    )
    run.stage_file(
        advancer_purchases("2024-06-10 00:00:00", -2), "purchases/p3.parquet", base + 20
    )

    cs = run.source(clicks.schema, "clicks", max_files=1).withWatermark(
        "click_ts", "1 hour"
    )
    ps = run.source(purchases.schema, "purchases", max_files=1).withWatermark(
        "purchase_ts", "1 hour"
    )
    joined = cs.join(
        ps,
        (F.col("cu") == F.col("pu"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 2 HOURS")
        ),
        "left_outer",
    ).select("cu", "click_id", "click_ts", "purchase_id", "purchase_ts")
    out = run.to_parquet(joined, timeout_sec, state_partitions=2)
    return out.filter(F.col("cu") != 999_999_999)
