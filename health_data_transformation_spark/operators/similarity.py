"""Similarity search over embedding columns (LLM-pipeline extension).

Brute-force cosine top-k is the exact baseline: one narrow pass over N
vectors (the query side is broadcast), a per-row JVM expression for the
dot product, and TakeOrderedAndProject for the top-k — no shuffle of the
embedding table at all.

The scale path is IVF-style bucketing: assign each vector to a coarse
cell (here: a provided bucket column, or a hash of the quantized
vector), search only the query's probe cells.  At 100 TB the bucket
column is also the parquet partition key, so cell probes become
partition pruning at the scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..functions.vector import dot, norm
from .dedup import _cap_buckets


def _with_query(df: DataFrame, query: DataFrame, vec_col: str) -> DataFrame:
    """Attach the (single-row) query vector to every row via broadcast."""
    return df.crossJoin(F.broadcast(query))


def apply_pair_budget(
    df: DataFrame, key_col: str | list[str], pair_budget: int
) -> DataFrame:
    """Budget-derived group cap (§8.10a): keep rows whose ``key_col``
    group is small enough that the TOTAL C(g,2) pair volume of all
    kept groups stays within ``pair_budget``.

    The §8.10a measurement showed why this exists: an ABSOLUTE cap is
    corpus-relative — at 2x corpus every block outgrew q43's fixed
    ``max_block`` and the verifier went vacuous (0 rows, correctly,
    uselessly).  A budget cap instead derives the size threshold from
    the quadratic work the caller can afford, so it keeps the largest
    set of smallest groups that fits and stays non-vacuous at any
    corpus size (the giant-cluster class is already owned by the
    linear exact prepasses; §8.9/§8.10 contract).

    One plan, no driver round-trip: per-group sizes via a window on
    ``key_col`` (the same exchange the caller's pair join needs),
    per-SIZE pair totals on the tiny distinct-size frame, a running
    sum over sizes ascending (the documented aggregate-then-window
    shape: O(distinct sizes) rows), and the resulting scalar threshold
    broadcast back as a non-equi filter against the sized rows.
    Measured cost contract: the threshold arm is NOT exchange-reused
    with the probe arm (column pruning narrows it to ``key_col`` only,
    breaking canonical equality — verified in the final plan), so the
    budget form pays one extra column-pruned pass over the input to
    SIZE the cap; that pass is linear, reads one column, and replaces
    a human guessing a constant that §8.10a showed going vacuous under
    corpus growth.  The running total routes through DECIMAL(38,0): a
    single galactic group's C(g,2) alone can exceed int64.
    """
    keys = [key_col] if isinstance(key_col, str) else list(key_col)
    clash = {"_gn", "_cap"} & set(df.columns)
    if clash:
        # withColumn would silently overwrite a caller's column of the
        # same name and then drop it at the end, corrupting their data
        raise ValueError(f"apply_pair_budget reserves helper columns {sorted(clash)}")
    w = Window.partitionBy(*keys)
    sized = df.withColumn("_gn", F.count("*").over(w))
    per_size = (
        sized.groupBy(*keys)
        .agg(F.max("_gn").alias("_gn"))
        .groupBy("_gn")
        .agg(F.count("*").alias("_nb"))
    )
    wcum = Window.orderBy("_gn").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # decimal-first: _gn * (_gn - 1) wraps int64 at _gn > ~3e9 (a
    # 100 TB-plausible group); the /2 is exact by evenness so the
    # cast back to scale 0 loses nothing
    pairs = F.expr(
        "CAST(CAST(_gn AS DECIMAL(38,0)) * (_gn - 1) / 2 AS DECIMAL(38,0))"
    )
    cum = per_size.withColumn(
        "_cum",
        F.sum(F.col("_nb").cast("decimal(38,0)") * pairs).over(wcum),
    )
    thr = cum.filter(
        F.col("_cum") <= F.lit(pair_budget).cast("decimal(38,0)")
    ).agg(F.coalesce(F.max("_gn"), F.lit(0)).alias("_cap"))
    return (
        sized.join(F.broadcast(thr), F.col("_gn") <= F.col("_cap"))
        .drop("_gn", "_cap")
    )


def apply_join_pair_budget(
    build: DataFrame, probe: DataFrame, key_col: str | list[str],
    pair_budget: int,
) -> DataFrame:
    """Budget-derived bucket cap for a two-sided bucket JOIN (§8.11):
    a bucket holding Nb build rows and Np probe rows emits Nb x Np
    candidate pairs, so keep the largest set of CHEAPEST shared
    buckets whose summed product volume fits ``pair_budget`` and
    return the BUILD side filtered to them (dropping a bucket on one
    side kills its candidates; the probe side never re-filters).

    This is ``apply_pair_budget``'s contract for the incremental /
    ingest-time shape (batch-vs-corpus candidates, q178 class), where
    the quadratic term is a PRODUCT of two per-bucket counts rather
    than C(g,2) of one.  Product volumes take too many distinct values
    to reuse the per-size-class trick (the running total must never
    order O(distinct buckets) rows through one window at 100 TB), so
    volumes are compressed to BIT-LENGTH classes — ``length(bin(v))``,
    <= 63 classes, exact integer ops, no fp log — and the threshold is
    derived per class: include a class iff the DECIMAL(38,0) running
    total through it fits the budget.  Conservative by at most one
    power of two versus the exact per-volume order (documented trade:
    a 2x-coarser knee for an O(classes) window).  Volumes are clamped
    to 2^62 before ``bin`` (DECIMAL product first — two >2^31-row
    sides would wrap an int64 multiply); a clamped bucket lands in the
    top class, which no sane budget affords.
    """
    keys = [key_col] if isinstance(key_col, str) else list(key_col)
    # build side flows through every helper; probe only ever gains _np
    # and is then narrowed to keys + _np — don't refuse probe frames
    # carrying columns this function never touches there
    clash = sorted(
        ({"_nb", "_np", "_vol", "_vc", "_cap"} & set(build.columns))
        | ({"_np"} & set(probe.columns))
    )
    if clash:
        raise ValueError(
            f"apply_join_pair_budget reserves helper columns {clash}"
        )
    # Flow-through shape (the apply_pair_budget lesson, two-sided):
    # every count comes from a WINDOW over the join key, never a bare
    # groupBy on the raw side — a groupBy computes its partial
    # aggregate BELOW the exchange, breaking canonical equality with
    # the candidate join's exchange, so the upstream subtree (scan +
    # signature compute for the LSH callers) would execute once more
    # per arm (measured: the groupBy form re-ran the documents scan
    # 4 extra times in q331's final plan).  With the window form each
    # side shuffles ONCE by the key; the probe-count reduction, the
    # volume join, the threshold arm, and the budget filter all sit
    # ABOVE those two exchanges (WindowExec and the per-key groupBy
    # preserve hash partitioning), so extra passes re-read shuffle
    # files, never the scans.
    w = Window.partitionBy(*keys)
    bs = build.withColumn("_nb", F.count("*").over(w))
    np_ = (
        probe.withColumn("_np", F.count("*").over(w))
        .select(*keys, "_np")
        .groupBy(*keys)
        .agg(F.max("_np").alias("_np"))
    )
    sized = (
        bs.join(np_, keys)
        .withColumn(
            "_vol", F.col("_nb").cast("decimal(38,0)") * F.col("_np")
        )
        .withColumn(
            "_vc",
            F.expr(
                "length(bin(CAST(least(_vol, CAST(4611686018427387904 AS "
                "DECIMAL(38,0))) AS BIGINT)))"
            ),
        )
    )
    # threshold arm: per-bucket distinct volumes -> per-class totals ->
    # running sum (O(classes) rows) -> scalar cap; reads the same two
    # exchanges `sized` flows over
    vol_tbl = sized.select(*keys, "_vol", "_vc").groupBy(*keys).agg(
        F.max("_vol").alias("_vol"), F.max("_vc").alias("_vc")
    )
    wcum = Window.orderBy("_vc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        vol_tbl.groupBy("_vc")
        .agg(F.sum("_vol").alias("_cv"))
        .withColumn("_cum", F.sum("_cv").over(wcum))
    )
    thr = cum.filter(
        F.col("_cum") <= F.lit(pair_budget).cast("decimal(38,0)")
    ).agg(F.coalesce(F.max("_vc"), F.lit(0)).alias("_cap"))
    return (
        sized.join(F.broadcast(thr), F.col("_vc") <= F.col("_cap"))
        .drop("_nb", "_np", "_vol", "_vc", "_cap")
    )


def cosine_scores(
    df: DataFrame, query: DataFrame, vec_col: str = "embedding",
    query_col: str = "qv", out_col: str = "sim", scale: int = 6,
) -> DataFrame:
    # query norm folded once into the broadcast row, not once per scanned
    # row; dot/(nv*nq) is bit-identical to the recomputed-cosine expr
    query = query.withColumn("_qnorm", norm(query_col))
    scored = _with_query(df, query, vec_col)
    sim = dot(F.col(vec_col), F.col(query_col)) / (
        norm(F.col(vec_col)) * F.col("_qnorm")
    )
    # floor-quantize rather than round: Spark's round() on doubles goes
    # through the shortest decimal rendering and can disagree with the
    # oracle's binary rounding on digit-(scale+1) ties
    q = F.lit(float(10 ** scale))
    return scored.withColumn(out_col, F.floor(sim * q) / q)


def brute_force_top_k(
    df: DataFrame, query: DataFrame, k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id", query_col: str = "qv",
) -> DataFrame:
    """Exact cosine top-k against a broadcast query vector.

    Ranking uses the *rounded* similarity plus the id tiebreak so results
    are stable across engines and runs.
    """
    scored = cosine_scores(df, query, vec_col, query_col)
    return (
        scored.select(F.col(id_col), F.col("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def build_ivf_cells(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF coarse quantizer: build (assigned, centroids).

    Centroids are the ``n_cells`` lowest-id vectors (deterministic seed
    choice; a production build would Lloyd-refine them — the assignment
    machinery, which is the scale-critical part, is identical).  Each
    vector joins the broadcast centroid set once and keeps its best cell
    by cosine: one narrow pass, no shuffle of the vector table.

    Returns (df + 'cell' column, centroids(cell, centroid, _cnorm)).
    """
    centroids = (
        df.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).alias("cell"),
            F.col(vec_col).alias("_centroid"),
        )
        .withColumn("_cnorm", norm("_centroid"))
    )
    scored = df.crossJoin(F.broadcast(centroids))
    sim = dot(F.col(vec_col), F.col("_centroid")) / (
        norm(F.col(vec_col)) * F.col("_cnorm")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_csim"), F.asc("cell"))
    assigned = (
        scored.withColumn("_csim", sim)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_centroid", "_cnorm", "_csim", "_rk")
    )
    return assigned, centroids


def ivf_search(
    assigned: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_col: str = "qv",
) -> DataFrame:
    """Probe the ``n_probes`` nearest cells, exact top-k inside them.

    At scale ``assigned`` is partitioned by cell, so the probe filter is
    partition pruning and search cost ~ n_probes/n_cells of the table.
    Delegates through :func:`ivf_search_stored` (one code path, so the
    recompute and persisted-store serving paths cannot drift — the
    q332 twin discipline applied to ANN serving).
    """
    return ivf_search_stored(
        assigned, centroids, query, k=k, n_probes=n_probes,
        vec_col=vec_col, id_col=id_col, query_col=query_col,
    )


def build_ivf_store(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """The persistable ANN serving index — §8.12's store pattern
    applied to IVF (VERDICT r9 task #4: q73 rebuilt cells per query;
    dedup got its persisted index in r9, this is the search-side twin).

    Returns the two frames the caller writes ONCE per corpus delivery:

      * ``assigned``: the input plus its ``cell`` id and the
        precomputed vector norm ``_vnorm`` — written sorted (or
        partitioned) by ``cell`` so probe-time cell filters prune
        parquet row groups / partitions, and scored at probe time
        without re-folding norms over the corpus (the q43
        O(n)-not-O(pairs) rule applied across deliveries);
      * ``centroids``: ``(cell, _centroid, _cnorm)`` — tiny
        (``n_cells`` rows), read whole per query batch.

    ``n_cells`` is stamped as column metadata on ``cell`` (persisted in
    parquet footers) so a probe asking for more probes than the store
    has cells fails loudly — the ADVICE-r9 params-with-the-store
    contract, same as ``build_lsh_store``.
    """
    assigned, centroids = build_ivf_cells(df, vec_col, id_col, n_cells)
    meta = {"hdt_n_cells": n_cells}
    assigned = assigned.withColumn("_vnorm", norm(vec_col)).withMetadata(
        "cell", meta
    )
    return assigned, centroids.withMetadata("cell", meta)


def _check_ivf_store(
    assigned: DataFrame,
    centroids: DataFrame,
    centroid_cols: set[str],
    built_by: str,
    n_probes: int,
    vec_col: str,
    id_col: str,
) -> None:
    """The store validation of every IVF search: both frames carry the
    columns ``built_by`` writes (``assigned`` its cell, vector and id;
    ``centroids`` its cell and ``centroid_cols``), and ``n_probes`` does
    not exceed the ``hdt_n_cells`` stamped on ``cell`` at build time (the
    ADVICE-r9 params-with-the-store contract; unstamped frames pass)."""
    for frame, need, name in (
        (assigned, {"cell", vec_col, id_col}, "assigned"),
        (centroids, {"cell", *centroid_cols}, "centroids"),
    ):
        missing = need - set(frame.columns)
        if missing:
            raise ValueError(
                f"store frame '{name}' lacks column(s) {sorted(missing)}; "
                f"build it with {built_by}"
            )
    meta = centroids.schema["cell"].metadata or {}
    if "hdt_n_cells" in meta and n_probes > int(meta["hdt_n_cells"]):
        raise ValueError(
            f"n_probes={n_probes} exceeds the store's n_cells="
            f"{int(meta['hdt_n_cells'])} ({built_by} metadata) — "
            "probing every cell is a full scan; rebuild with more cells "
            "or lower n_probes"
        )


def _stored_cosine(assigned: DataFrame, vec_col: str, query_col: str) -> Column:
    """The floored cosine of the IVF store searches: the same expression
    as brute_force_top_k/cosine_scores, with the store's precomputed
    ``_vnorm`` substituted when present (the query side carries
    ``_qnorm``)."""
    vnorm = (
        F.col("_vnorm") if "_vnorm" in assigned.columns else norm(F.col(vec_col))
    )
    sim = dot(F.col(vec_col), F.col(query_col)) / (vnorm * F.col("_qnorm"))
    quant = F.lit(float(10 ** 6))
    return F.floor(sim * quant) / quant


def ivf_search_stored(
    assigned: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_col: str = "qv",
) -> DataFrame:
    """IVF search against a PRE-BUILT (typically parquet-persisted)
    index — result-identical to :func:`ivf_search` on the same frames
    (``ivf_search`` delegates here; pinned by
    test_ivf_store_path_equals_recompute).

    Per-query work: score ``n_cells`` stored centroids against the
    broadcast query (tiny), collect the ``n_probes`` best cell ids
    (driver state bounded by ``n_probes`` by construction), filter the
    stored assignment table to those cells — on a cell-sorted or
    cell-partitioned store that filter prunes row groups / partitions,
    so probe IO is ~ n_probes/n_cells of the table — and take the
    exact floored-cosine top-k inside them, reusing the store's
    precomputed ``_vnorm`` when present instead of re-folding norms.
    """
    _check_ivf_store(
        assigned, centroids, {"_centroid", "_cnorm"}, "build_ivf_store",
        n_probes, vec_col, id_col,
    )
    q = query.withColumn("_qnorm", norm(query_col))
    cent_scored = centroids.crossJoin(F.broadcast(q)).withColumn(
        "_qsim",
        dot(F.col("_centroid"), F.col(query_col))
        / (F.col("_cnorm") * F.col("_qnorm")),
    )
    probes = [
        r["cell"]
        for r in cent_scored.orderBy(F.desc("_qsim"), F.asc("cell"))
        .limit(n_probes)
        .collect()
    ]
    filtered = assigned.filter(F.col("cell").isin(probes))
    scored = _with_query(filtered, q, vec_col)
    return (
        scored.withColumn("sim", _stored_cosine(assigned, vec_col, query_col))
        .select(F.col(id_col), F.col("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_search_batch(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_col: str = "qv",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact floored-cosine top-k for MANY queries in ONE plan — the
    shape a serving/labeling pipeline actually runs (k-NN for a whole
    batch of embeddings), with NO per-query driver round trip.

    :func:`ivf_search_stored` collects each query's probe cells on the
    driver — right for interactive single queries, O(|Q|) collects for
    a batch.  Here probe selection stays IN the plan: queries cross the
    broadcast ``n_cells``-row centroid table (|Q| x n_cells rows), a
    per-query window ranks the ``n_probes`` best cells (each window
    group is exactly n_cells rows — never corpus-sized), and the probe
    set — |Q| x n_probes rows carrying the query vector and its
    precomputed norm — is BROADCAST against the stored assignment
    table's cell key.  Candidate volume is the inherent
    ~|Q| x n_probes/n_cells x |corpus|; the final per-query top-k runs
    through the two-phase ``top_k_per_group_scalable`` so no query's
    candidate set funnels through one task.

    Sizing contract: the broadcast probe set is |Q| x n_probes vectors
    — right while a query batch fits in executor memory (the serving
    case).  For corpus-vs-corpus kNN (|Q| ~ |corpus|) use the
    LSH-bucketed per-vector top-k (q105's shape) instead; a broadcast
    there would be the corpus itself.

    Returns (query_id, id, sim, rank) with rank 1..k per query,
    tiebroken (sim desc, id asc) — engine-stable and oracle-exact.
    """
    _check_ivf_store(
        assigned, centroids, {"_centroid", "_cnorm"}, "build_ivf_store",
        n_probes, vec_col, id_col,
    )
    q = queries.select(query_id_col, query_col).withColumn(
        "_qnorm", norm(query_col)
    )
    cq = q.crossJoin(F.broadcast(centroids)).withColumn(
        "_qsim",
        dot(F.col("_centroid"), F.col(query_col))
        / (F.col("_cnorm") * F.col("_qnorm")),
    )
    return _probe_cells_topk(
        assigned, cq, F.desc("_qsim"), n_probes, k, vec_col, id_col,
        query_col, query_id_col,
    )


def _probe_cells_topk(
    assigned: DataFrame,
    cq: DataFrame,
    cell_order: Column,
    n_probes: int,
    k: int,
    vec_col: str,
    id_col: str,
    query_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared tail of the batch IVF searches (cosine-probed
    ``ivf_search_batch`` and integer-d2-probed
    ``ivf_lloyd_search_batch``): keep each query's ``n_probes`` best
    cells of ``cq`` (queries x centroids, ranked by ``cell_order``
    then cell — every window group is exactly n_cells rows), broadcast
    that |Q| x n_probes probe set against the stored assignment
    table's cell key, score the exact floored cosine with stored norms,
    and run the two-phase per-query top-k.  Returns (query_id, id, sim,
    rank)."""
    wq = Window.partitionBy(query_id_col).orderBy(cell_order, F.asc("cell"))
    probes = (
        cq.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= n_probes)
        .select(query_id_col, "cell", query_col, "_qnorm")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .withColumn("sim", _stored_cosine(assigned, vec_col, query_col))
        .select(query_id_col, F.col(id_col), F.col("sim"))
    )
    from .topk import top_k_per_group_scalable

    return top_k_per_group_scalable(
        scored,
        [query_id_col],
        [F.desc("sim"), F.asc(id_col)],
        k,
        rank_col="rank",
    ).withColumn("rank", F.col("rank").cast("long"))


def build_ivf_store_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    rounds: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd-REFINED persistable IVF index (VERDICT r10 task #7:
    ``build_ivf_cells`` takes the n_cells lowest-id vectors as
    centroids — deterministic but arbitrary, and cell balance suffers;
    §8.13b measures the refinement tightening max-cell skew).

    Vectors int8-quantize and run ``rounds`` deterministic integer
    Lloyd iterations (``kmeans.int_kmeans``: exact integer L2, floor-
    mean updates, lowest-id tie-breaks — the q158 machinery, so the
    refinement itself is oracle-checkable, which fp k-means never is).
    Returns the two frames the caller persists once per delivery:

      * ``assigned``: the input + its Lloyd ``cell`` + precomputed
        ``_vnorm`` — write sorted/partitioned by ``cell``;
      * ``centroids``: ``(cell, _centroid_int array<long>)`` — tiny,
        scored at probe time with the SAME exact-integer d2 rule the
        assignment used (metric consistency: a vector lives in the
        cell a probe ranks first for it).

    ``n_cells``/``rounds`` are stamped as column metadata on ``cell``
    (the params-with-the-store contract; over-probing fails loudly).
    """
    from ..functions.vector import int8_quantize
    from .kmeans import int_kmeans

    qv = df.select(F.col(id_col), int8_quantize(vec_col).alias("_q"))
    assign, cents = int_kmeans(qv, id_col, "_q", k=n_cells, rounds=rounds)
    meta = {"hdt_n_cells": n_cells, "hdt_rounds": rounds}
    assigned = (
        df.join(assign.withColumnRenamed("cluster", "cell"), id_col)
        .withColumn("_vnorm", norm(vec_col))
        .withMetadata("cell", meta)
    )
    centroids = cents.select(
        F.col("cluster").alias("cell"), F.col("centroid").alias("_centroid_int")
    ).withMetadata("cell", meta)
    return assigned, centroids


def ivf_lloyd_search_batch(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_col: str = "qv",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Batch k-NN against the Lloyd-refined store — the
    :func:`ivf_search_batch` shape (probe selection IN the plan, no
    per-query driver round trip) with probe ranking by the store's own
    exact-integer d2 rule: each query int8-quantizes, crosses the
    broadcast integer-centroid table, and a per-query window keeps the
    ``n_probes`` NEAREST cells (d2 asc, cell asc — every window group
    is exactly n_cells rows).  Verification inside probed cells is the
    exact floored cosine on the RAW vectors with stored norms, same as
    every other serving path.  Returns (query_id, id, sim, rank).
    """
    from ..functions.vector import int8_quantize
    from .kmeans import _d2

    _check_ivf_store(
        assigned, centroids, {"_centroid_int"}, "build_ivf_store_lloyd",
        n_probes, vec_col, id_col,
    )
    q = queries.select(query_id_col, query_col).withColumn(
        "_qnorm", norm(query_col)
    ).withColumn("_qq", int8_quantize(query_col))
    cq = q.crossJoin(F.broadcast(centroids)).withColumn(
        "_qd2", _d2(F.col("_qq"), F.col("_centroid_int"))
    )
    return _probe_cells_topk(
        assigned, cq, F.asc("_qd2"), n_probes, k, vec_col, id_col,
        query_col, query_id_col,
    )


def ivf_top_k(
    df: DataFrame, query: DataFrame, k: int = 3,
    bucket_col: str = "label", vec_col: str = "embedding",
    id_col: str = "vec_id", query_col: str = "qv",
) -> DataFrame:
    """IVF-shaped search: top-k *within each coarse cell*.

    A real IVF assigns cells by nearest centroid; the cell column here is
    caller-provided (testdata uses ``label`` as the precomputed cell).
    Probing a subset of cells = filtering on ``bucket_col``, which prunes
    partitions when the table is partitioned by it.
    """
    scored = cosine_scores(df, query, vec_col, query_col)
    w = Window.partitionBy(bucket_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        scored.select(F.col(bucket_col), F.col(id_col), F.col("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic integer hyperplanes from md5 — reproducible by any
    engine/language, so LSH signatures are oracle-exact."""
    import hashlib

    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"rp{j}|{i}".encode()).hexdigest()
            row.append(int(h[:15], 16) % 2001 - 1000)
        planes.append(row)
    return planes


def embedding_lsh_signature(
    df: DataFrame, n_planes: int = 8, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """Random-hyperplane LSH signature over int8-quantized embeddings.

    SimHash for cosine space: bit j = [dot(quantize(v), plane_j) > 0].
    Everything is exact integer arithmetic (|q|<=127, |plane|<=1000,
    dim<=64 -> dot <= 8.1e6, no overflow), so signatures are
    bit-identical across engines AND across cluster layouts — the
    property that lets a 100 TB dedup pass shard by signature with no
    recompute drift.  One narrow projection, no shuffle.
    """
    from ..functions.vector import int8_quantize, int_dot

    planes = _hyperplanes(n_planes, dim)
    # n_planes separate flat folds beat a single-pass struct-accumulator
    # fold here (A/B measured 1.9s vs 2.8s warm at sf0.1): per-element
    # struct construction costs more than the extra array traversals,
    # which stay in primitive long arithmetic
    q = df.withColumn("_q", int8_quantize(vec_col))
    sig = None
    for j, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(x).cast("long") for x in plane])
        bit = F.when(int_dot(F.col("_q"), plane_col) > 0, F.lit(1 << j)).otherwise(0)
        sig = bit if sig is None else sig + bit
    return q.withColumn("lsh_sig", sig.cast("long")).drop("_q")


def exact_vector_prepass(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fingerprint: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The §8.9 exact-dedup contract applied to embedding columns:
    byte-identical vectors collapse to their min-``id_col`` keeper
    BEFORE any signature banding sees them.

    Returns ``(reps, groups)``: ``reps`` keeps one representative row
    per distinct vector (full original schema); ``groups`` is
    (``vec_col``, keeper_id, n_copies) — a g-copy exact group holds its
    C(g,2) "pairs" compactly through membership, linear to compute and
    store, exactly like the text-side ``dedup.exact_prepass``.  Exact
    vector copies are the embedding analogue of boilerplate: identical
    inputs to a deterministic encoder produce identical vectors, and on
    a duplicate-saturated corpus they put all their C(g,2) pairs inside
    ONE signature bucket (§8.10 measures the blowup).

    Scale shape: one groupBy whose key is the raw vector (dim x 4
    bytes; arrays hash/compare natively in Spark) + one semi join on
    ``id_col``.  ``fingerprint=True`` is the 100 TB path — the exact
    analogue of the text side's md5 content fingerprint: the grouping
    key becomes a 128-bit pair of independently-seeded ``xxhash64``
    values over the vector (JVM-side, hashes array ELEMENTS
    recursively), so the dedup shuffle moves (id, 16 B) per row
    instead of (id, dim x 4 B), and only the distinct keepers'
    vectors are rehydrated afterwards (one join on ``keeper_id``,
    O(distinct) rows).  Same (reps, groups) schema and values as the
    raw path, assuming no 128-bit collision (P < 1e-18 at 1e10 rows;
    a raw-key verify pass is the escalation if that ever matters).
    One honest divergence: Spark normalizes floats inside GROUP BY
    keys (-0.0 == 0.0, all NaN payloads equal), and xxhash64 mirrors
    the -0.0 normalization but NOT exotic NaN payloads — encoder
    outputs never contain NaN, and a corpus that does should be
    quarantined upstream (P9), not deduped.
    """
    if fingerprint:
        keyed = df.select(
            F.col(id_col),
            F.xxhash64(F.lit(1), F.col(vec_col)).alias("_fp1"),
            F.xxhash64(F.lit(2), F.col(vec_col)).alias("_fp2"),
        )
        groups_k = keyed.groupBy("_fp1", "_fp2").agg(
            F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies")
        )
        groups = groups_k.join(
            df.select(F.col(id_col).alias("keeper_id"), F.col(vec_col)),
            "keeper_id",
        ).select(vec_col, "keeper_id", "n_copies")
        reps = df.join(
            groups_k.select(F.col("keeper_id").alias(id_col)),
            id_col,
            "left_semi",
        )
        return reps, groups
    groups = df.groupBy(vec_col).agg(
        F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies")
    )
    reps = df.join(
        groups.select(F.col("keeper_id").alias(id_col)), id_col, "left_semi"
    )
    return reps, groups


def embedding_lsh_pairs(
    df: DataFrame,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    max_bucket: int | None = None,
    pre_dedup_exact: bool = False,
    pair_budget: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs: equal LSH signature, scored by the
    exact integer dot of the quantized vectors.  The join key is the
    signature — candidate generation is an equi self-join, never an
    all-pairs scan.

    ``max_bucket`` (§8.10, parity with the MinHash/SimHash caps):
    signatures shared by more than ``max_bucket`` vectors are dropped
    BEFORE pair expansion — a g-vector signature bucket emits C(g,2)
    pairs, so one saturated bucket is a corpus-quadratic output no
    plan can fix.  ``pre_dedup_exact`` composes
    :func:`exact_vector_prepass` first so the cap stops burning recall
    on byte-identical vectors (owned linearly by the groups table) and
    only guards the irreducibly-quadratic near-variant class.  The
    third knob is ``n_planes`` itself: the signature space must scale
    with the corpus (2^n_planes >> N / tolerable-bucket), or RANDOM
    collisions alone make the equi-join quadratic — §8.10 measures all
    three on a saturated corpus.

    ``pair_budget`` (§8.10a) is the corpus-growth-proof alternative to
    ``max_bucket``: instead of an absolute size (which goes vacuous
    when every bucket outgrows it), derive the size threshold from the
    total candidate-pair volume the caller affords —
    :func:`apply_pair_budget` keeps the largest set of smallest
    buckets whose summed C(g,2) fits the budget.  Mutually exclusive
    with ``max_bucket``.
    """
    if max_bucket is not None and pair_budget is not None:
        raise ValueError("pass max_bucket or pair_budget, not both")
    from ..functions.vector import int8_quantize, int_dot

    if pre_dedup_exact:
        # fingerprint=True: the dedup shuffle key is 16 B, not the raw
        # vector — the 100 TB composition (groups are discarded here,
        # so the keeper-vector rehydration join never executes)
        df, _ = exact_vector_prepass(df, vec_col, id_col, fingerprint=True)
    sigs = embedding_lsh_signature(df, n_planes, vec_col, dim).select(
        id_col, "lsh_sig", int8_quantize(vec_col).alias("_q")
    )
    sigs = _cap_buckets(sigs, max_bucket, pair_budget, key="lsh_sig")
    a = sigs.select(
        F.col("lsh_sig"), F.col(id_col).alias("id_a"), F.col("_q").alias("qa")
    )
    b = sigs.select(
        F.col("lsh_sig"), F.col(id_col).alias("id_b"), F.col("_q").alias("qb")
    )
    return (
        a.join(b, "lsh_sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "lsh_sig", int_dot("qa", "qb").alias("qdot"))
    )


def ta_topk_fusion(
    scores: DataFrame,
    k: int,
    id_col: str = "id",
    col_a: str = "sa",
    col_b: str = "sb",
    start_m: int = 64,
) -> DataFrame:
    """Fagin's Threshold Algorithm: exact top-k by (col_a + col_b)
    touching only the heads of the two per-arm rankings.

    Each round takes the top-m of each arm (TakeOrderedAndProject — a
    per-partition k-heap, no global sort), unions the candidates, and
    scores them exactly.  The TA certificate: any item OUTSIDE both
    heads has sa <= tau_a and sb <= tau_b (the m-th per-arm values),
    hence combined <= tau_a + tau_b — so once the k-th best CANDIDATE
    strictly exceeds tau_a + tau_b, no unseen item can enter the
    top-k, ties included, and the candidate top-k IS the global top-k.
    If the certificate fails, m doubles (the adaptive deepening real
    TA implementations do); at m >= n the candidate set is the corpus
    and the answer is exact by construction, so termination is
    guaranteed.

    Driver round-trips are O(log n) scalar reads (tau values and the
    k-th candidate score) used purely for control flow, like the
    connected-components convergence test — the data itself never
    leaves the cluster.  At 100 TB with per-arm indexes (IVF cells,
    BM25 postings) sorted access IS the index read order and the scan
    depth m is the whole cost — which is exactly what TA minimizes.
    """
    scores = scores.localCheckpoint()
    n = scores.count()
    combined = (F.col(col_a) + F.col(col_b)).alias("combined")
    order = [F.desc("combined"), F.asc(id_col)]
    m = start_m
    while True:
        if m >= n:
            cand = scores.select(id_col, col_a, col_b, combined)
            break
        top_a = scores.orderBy(F.desc(col_a), F.asc(id_col)).limit(m)
        top_b = scores.orderBy(F.desc(col_b), F.asc(id_col)).limit(m)
        tau_a = top_a.agg(F.min(col_a)).collect()[0][0]
        tau_b = top_b.agg(F.min(col_b)).collect()[0][0]
        cand = (
            top_a.unionByName(top_b)
            .dropDuplicates([id_col])
            .select(id_col, col_a, col_b, combined)
        )
        kth_rows = cand.orderBy(*order).limit(k).collect()
        if len(kth_rows) >= k and kth_rows[-1]["combined"] > tau_a + tau_b:
            break
        m *= 2
    topk = cand.orderBy(*order).limit(k)
    w = Window.orderBy(*order)  # k rows only — bounded window
    return topk.withColumn("rk", F.row_number().over(w))
