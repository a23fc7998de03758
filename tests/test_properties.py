"""Property-based tests (hypothesis): custom operators must equal their
naive/built-in equivalents on arbitrary inputs, not just fixtures.

Examples are kept small and few (each runs Spark jobs); the properties
are the point — equivalence holds for *any* data, including empty
groups, all-duplicate keys, and adversarial timestamp collisions.
"""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_kv = st.lists(
    st.tuples(st.integers(0, 3), st.integers(-1000, 1000)), min_size=0, max_size=40
)


@given(data=rows_kv)
@settings(**SETTINGS)
def test_salted_aggregate_equals_groupby(spark, data):
    from health_data_transformation_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(
        [(k, float(v)) for k, v in data] or [(0, 0.0)], "k long, v double"
    )
    direct = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        r["k"]: (r["n"], r["s"])
        for r in salted_aggregate(df, ["k"], {"s": F.sum("v")}, buckets=4).collect()
    }
    assert salted == direct


@given(
    left=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), max_size=15),
    right=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), max_size=15),
)
@settings(**SETTINGS)
def test_range_join_equals_naive(spark, left, right):
    from health_data_transformation_spark.operators.rangejoin import (
        bucketed_range_join,
    )

    base = dt.datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(i, k, base + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left)]
        or [(0, 0, base)],
        "lid long, k long, lts timestamp",
    )
    rdf = spark.createDataFrame(
        [(i, k, base + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(right)]
        or [(0, 0, base)],
        "rid long, k long, rts timestamp",
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in bucketed_range_join(ldf, rdf, ["k"], "lts", "rts", -10, 0).collect()
    )
    naive = sorted(
        (r["lid"], r["rid"])
        for r in ldf.join(
            rdf,
            (ldf.k == rdf.k)
            & (rdf.rts >= ldf.lts - F.expr("INTERVAL 10 SECONDS"))
            & (rdf.rts < ldf.lts),
        ).collect()
    )
    assert got == naive


@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(0, 60)),
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_asof_join_equals_naive(spark, events):
    """asof: each probe row gets the build row with the greatest ts <= its
    ts for the same key (tiebroken by id), or null."""
    from health_data_transformation_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, k, base + dt.timedelta(seconds=s), typ % 2 == 0)
        for i, (k, s, typ) in enumerate(events)
    ]
    probes = [(i, k, ts) for i, k, ts, is_probe in rows if is_probe] or [
        (0, 0, base)
    ]
    builds = [(i, k, ts) for i, k, ts, is_probe in rows if not is_probe] or [
        (1, 0, base)
    ]
    pdf = spark.createDataFrame(probes, "pid long, k long, pts timestamp")
    bdf = spark.createDataFrame(builds, "bid long, k long, bts timestamp")

    got = {
        r["pid"]: r["bid"]
        for r in asof_join(
            pdf.select("pid", "k", F.col("pts").alias("ts")),
            bdf.select("k", F.col("bts").alias("ts"), "bid"),
            ["k"],
            "ts",
            "ts",
            ["bid"],
            tiebreak="pid",
        ).collect()
    }
    expected = {}
    for pid, pk, pts in probes:
        cands = [(bts, bid) for bid, bk, bts in builds if bk == pk and bts <= pts]
        expected[pid] = max(cands)[1] if cands else None
    assert got == expected


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda t: t[0] != t[1]
        ),
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_connected_components_equals_union_find(spark, edges):
    from health_data_transformation_spark.operators.dedup import (
        connected_components,
    )

    pairs = [(min(a, b), max(a, b)) for a, b in edges] or [(0, 1)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }

    # reference union-find
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    expected = {n: find(n) for n in parent}
    assert got == expected


float_vecs = st.lists(
    st.floats(min_value=-10.0, max_value=10.0, allow_nan=False, width=32),
    min_size=1,
    max_size=16,
).filter(lambda v: max(abs(x) for x in v) > 1e-6)


@given(vec=float_vecs)
@settings(**SETTINGS)
def test_int8_quantize_bounds_error(spark, vec):
    """Dequantized values stay within one quantization step of the
    original: |x - q * max|x|/127| <= max|x|/127 for every element,
    and every quantized value is in [-127, 127]."""
    from health_data_transformation_spark.functions.vector import int8_quantize

    df = spark.createDataFrame([(vec,)], "v array<double>")
    [q] = df.select(int8_quantize("v").alias("q")).collect()
    m = max(abs(x) for x in vec)
    step = m / 127.0
    assert all(-127 <= qi <= 127 for qi in q["q"])
    for x, qi in zip(vec, q["q"]):
        assert abs(x - qi * step) <= step + 1e-12


@given(
    sets=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=6),
        min_size=0,
        max_size=10,
    ),
    t=st.sampled_from([30, 50, 80]),
)
@settings(**SETTINGS)
def test_prefix_filter_equals_brute_force(spark, sets, t):
    """PPJoin prefix filtering loses no pair and invents none, for any
    sets (incl. empty sets and duplicates) at any threshold."""
    from health_data_transformation_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = [(i, sorted(set(s))) for i, s in enumerate(sets)]
    df = spark.createDataFrame(
        docs or [(0, ["x"])], "doc_id LONG, s ARRAY<STRING>"
    )
    got = {
        (r.id_a, r.id_b): (r.inter, r.un)
        for r in prefix_filter_jaccard_pairs(
            df, set_col="s", threshold_pct=t
        ).collect()
    }
    import itertools

    expect = {}
    for (ia, sa), (ib, sb) in itertools.combinations(docs or [(0, ["x"])], 2):
        inter = len(set(sa) & set(sb))
        un = len(set(sa) | set(sb))
        if un > 0 and inter * 100 >= t * un:
            expect[(min(ia, ib), max(ia, ib))] = (inter, un)
    assert got == expect


@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 2),           # key
            st.integers(-5000, 5000),    # value (negatives exercise shiftright)
            st.integers(1, 9),           # weight
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_weighted_median_equals_definition(spark, data):
    """Two-phase bin-then-refine equals the direct definition: smallest
    v with 2*cumweight(v) >= total, for any keys/values/weights."""
    from health_data_transformation_spark.operators.profile import (
        grouped_weighted_median,
    )

    df = spark.createDataFrame(data, "k LONG, v LONG, w LONG")
    got = {
        r.k: (r.weighted_median, r.total_weight)
        for r in grouped_weighted_median(df, "k", "v", "w", bin_shift=6).collect()
    }
    from collections import defaultdict

    groups = defaultdict(list)
    for k, v, w in data:
        groups[k].append((v, w))
    from itertools import groupby

    expect = {}
    for k, vw in groups.items():
        tot = sum(w for _, w in vw)
        cum = 0
        for v, grp in groupby(sorted(vw), key=lambda x: x[0]):
            cum += sum(w for _, w in grp)
            if 2 * cum >= tot:
                expect[k] = (v, tot)
                break
    assert got == expect


@given(
    edges=st.lists(
        st.tuples(st.integers(1, 8), st.integers(1, 8)), min_size=0, max_size=20
    )
)
@settings(**SETTINGS)
def test_triangle_count_equals_brute_force(spark, edges):
    from itertools import combinations

    from health_data_transformation_spark.operators.graph import (
        canonical_edges,
        triangle_count,
    )

    df = spark.createDataFrame(edges or [(1, 1)], "u LONG, v LONG")
    row = triangle_count(canonical_edges(df, "u", "v")).collect()[0]
    eset = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = {x for e in eset for x in e}
    tri = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if (a, b) in eset and (b, c) in eset and (a, c) in eset
    )
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (
        len(nodes),
        len(eset),
        tri,
    )


def test_incremental_lsh_rejects_corpus_duplicates(spark):
    """A batch doc byte-identical to a corpus doc must always be caught
    (identical signatures collide on every band); a token-disjoint doc
    must always be admitted (no shared shingle => no shared bucket and
    Jaccard 0 anyway)."""
    from health_data_transformation_spark.operators.dedup import (
        lsh_incremental_matches,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta"),   # exact dup of corpus doc 1
         (11, "zz yy xx ww vv uu")],        # disjoint tokens
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_matches"], r["admitted"])
        for r in lsh_incremental_matches(
            corpus, batch, band_size=4, num_hashes=8, min_jaccard=0.4
        ).collect()
    }
    assert got[10] == (1, False)
    assert got[11] == (0, True)


def test_hamilton_allocation_properties(spark):
    """Largest-remainder allocation: allocs sum EXACTLY to the budget,
    and each source gets floor(quota) or floor(quota)+1 (never more
    drift — the property that distinguishes Hamilton from naive
    rounding)."""
    import __spark_entry__ as e

    rows = e.queries()["q172_mixture_allocation"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    total_docs = sum(r["n_docs"] for r in rows)
    assert sum(r["alloc"] for r in rows) == 1000
    for r in rows:
        base = (1000 * r["n_docs"]) // total_docs
        assert r["alloc"] in (base, base + 1), (r, base)


def test_content_defined_chunks_reconstruct_document(spark):
    """CDC chunking invariant: concatenating a document's chunks in
    chunk order reproduces the document exactly (no token lost,
    duplicated, or reordered), for any cut pattern the rolling hash
    produces — the property that makes chunk-level dedup lossless."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from health_data_transformation_spark.functions import text as T

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l m n o p"),
            (2, "x"),
            (3, "one two three four five six seven eight nine ten "
                "eleven twelve thirteen fourteen"),
            (4, "a a a a a a a a a a a a"),
        ],
        "doc_id long, text string",
    )
    toks = docs.select("doc_id", T.tokens("text").alias("t"))
    pos = toks.select(
        "doc_id", "t",
        F.explode(F.sequence(F.lit(1), F.size("t"))).alias("p"),
    )
    wh = T.hex_hash64(
        F.concat_ws(
            " ",
            F.element_at("t", F.col("p")),
            F.element_at("t", F.col("p") + 1),
            F.element_at("t", F.col("p") + 2),
        ),
        salt="cdc",
    )
    marked = pos.select(
        "doc_id", "p", F.element_at("t", F.col("p")).alias("tok"),
        F.when((F.col("p") <= F.size("t") - 2) & (wh % 4 == 0), 1)
        .otherwise(0).alias("cut_after"),
    )
    w = (
        Window.partitionBy("doc_id").orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cids = marked.select(
        "doc_id", "p", "tok",
        F.coalesce(F.sum("cut_after").over(w), F.lit(0)).alias("cid"),
    )
    chunks = cids.groupBy("doc_id", "cid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("chunk")
    )
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("cid", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("rebuilt")
        )
    )
    joined = docs.join(rebuilt, "doc_id").collect()
    assert len(joined) == 4
    for r in joined:
        assert r["rebuilt"] == r["text"], r["doc_id"]


def test_global_row_number_partition_invariant(spark):
    """global_row_number must assign the SAME rank to every row no
    matter how many partitions the input arrives in — the property
    that makes hash-ordered shard manifests reproducible across
    cluster sizes (q183/q200)."""
    import pyspark.sql.functions as F

    from health_data_transformation_spark.operators.topk import (
        global_row_number,
    )

    base = spark.range(500).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 1000003).alias("k"),
    )
    expected = None
    for n_parts in (1, 3, 8):
        df = base.repartition(n_parts)
        got = sorted(
            (r["id"], r["rn"])
            for r in global_row_number(
                df, [F.col("k"), F.col("id")]
            ).collect()
        )
        if expected is None:
            expected = got
            ranks = sorted(rn for _, rn in got)
            assert ranks == list(range(1, 501))  # dense, 1-based, total
        else:
            assert got == expected, f"rank drift at {n_parts} partitions"


def test_grouped_weighted_quantile_arbitrary_q(spark):
    """q_num/q_den generalization: the two-phase quantile must equal
    the direct 'smallest v with cum*den >= num*total' definition for
    several q, with duplicate values, negative values, and weights."""
    import pyspark.sql.functions as F

    from health_data_transformation_spark.operators.profile import (
        grouped_weighted_quantile,
    )

    rows = []
    vals = [-50, -3, -3, 0, 1, 1, 1, 7, 20, 20, 999, -1000]
    for g in ("a", "b"):
        for i, v in enumerate(vals):
            rows.append((g, v, (i % 3) + 1))
    df = spark.createDataFrame(rows, "g string, v long, w long")

    def brute(q_num, q_den):
        out = {}
        for g in ("a", "b"):
            items = sorted(
                (v, w) for gg, v, w in rows if gg == g
            )
            tot = sum(w for _, w in items)
            cum = 0
            for v, w in items:
                cum += w
                if cum * q_den >= q_num * tot:
                    out[g] = v
                    break
        return out

    for q_num, q_den in [(1, 2), (1, 3), (2, 3), (9, 10), (1, 100), (99, 100)]:
        got = {
            r["g"]: r["quantile_value"]
            for r in grouped_weighted_quantile(
                df, "g", "v", "w", q_num=q_num, q_den=q_den
            ).collect()
        }
        assert got == brute(q_num, q_den), (q_num, q_den, got)


@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=5), min_size=1, max_size=14
    ),
)
@settings(**SETTINGS)
def test_fastss_blocking_equals_brute_force(spark, words):
    """FastSS deletion-neighborhood candidate generation is COMPLETE for
    Levenshtein distance <= 1: best-match via the blocked join equals
    best-match via the all-pairs scan, for arbitrary short strings
    (including empty strings, duplicates, and pure indel chains)."""
    import itertools

    from health_data_transformation_spark.operators.dedup import fuzzy_best_match

    clean = list(enumerate(sorted(set(words))))
    dirty = [(1000 + i, w) for i, w in enumerate(words[: max(1, len(words) // 2)])]

    # brute force oracle in python
    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    expect = {}
    for did, ds in dirty:
        cands = [
            (cid, lev(ds, cs)) for cid, cs in clean if lev(ds, cs) <= 1
        ]
        if cands:
            best = min(cands, key=lambda t: (t[1], t[0]))
            expect[did] = (best[0], best[1], len(cands))

    cdf = spark.createDataFrame(clean or [(0, "")], "id long, name string")
    ddf = spark.createDataFrame(dirty, "id long, name string")
    got = {
        r["dirty_id"]: (r["matched_id"], r["dist"], r["n_candidates"])
        for r in fuzzy_best_match(ddf, cdf, "name", "id").collect()
    }
    assert got == expect


@given(
    stream=st.lists(st.integers(0, 9), min_size=1, max_size=60),
    capacity=st.integers(2, 5),
    splits=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_misra_gries_candidates_cover_heavy_hitters(spark, stream, capacity, splits):
    """The union of per-slice Misra-Gries summaries contains EVERY item
    with global count > N/capacity, for any slicing of the stream and
    any capacity (this exercises the decrement path: capacity < key
    cardinality).  Estimates also never exceed true counts."""
    from collections import Counter

    from health_data_transformation_spark.operators.sketch import (
        misra_gries_summarize,
    )

    n = len(stream)
    chunk = max(1, n // splits)
    slices = [stream[i : i + chunk] for i in range(0, n, chunk)]
    union: set = set()
    for sl in slices:
        summ = misra_gries_summarize(sl, capacity)
        assert len(summ) <= capacity
        for item, est in summ.items():
            assert est <= Counter(sl)[item]
        union |= set(summ)
    true = Counter(stream)
    heavy = {x for x, c in true.items() if c * capacity > n}
    assert heavy <= union


def test_heavy_hitters_exact_partition_invariant(spark):
    """heavy_hitters_exact returns the same exact rows at 1, 3, and 8
    input partitions (the sketch pass is order-dependent; the exact
    recount must erase that)."""
    from health_data_transformation_spark.operators.sketch import heavy_hitters_exact

    data = [("a",)] * 30 + [("c",)] * 12 + [(c, ) for c in "defghij"] * 2
    expect = {("a", 30, 56), ("c", 12, 56)}  # threshold cnt*5 > 56
    for parts in (1, 3, 8):
        df = spark.createDataFrame(data, "token string").repartition(parts)
        got = {
            (r["token"], r["cnt"], r["n_total"])
            for r in heavy_hitters_exact(df, "token", capacity=5).collect()
        }
        assert got == expect


def test_global_running_sum_partition_invariant(spark):
    """global_running_sum's exclusive prefix sums equal the
    single-partition window definition at 1, 3, and 8 input partitions
    (the compaction-planner guarantee: bin assignment must not depend
    on physical layout)."""
    from pyspark.sql import Window

    from health_data_transformation_spark.operators.topk import global_running_sum

    data = [(i, (i * 37) % 11 - 3) for i in range(50)]
    df0 = spark.createDataFrame(data, "k long, v long")
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    expect = {
        r["k"]: r["c"]
        for r in df0.withColumn(
            "c", F.coalesce(F.sum("v").over(w), F.lit(0))
        ).collect()
    }
    for parts in (1, 3, 8):
        df = df0.repartition(parts)
        got = {
            r["k"]: r["cum_before"]
            for r in global_running_sum(df, [F.asc("k")], "v").collect()
        }
        assert got == expect


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=25,
    ),
    k=st.integers(1, 5),
)
@settings(**SETTINGS)
def test_ta_topk_fusion_equals_full_sort(spark, rows, k):
    """Threshold-Algorithm early termination returns EXACTLY the full
    sort's top-k by (sa+sb desc, id) for arbitrary score tables —
    small score domains make ties abundant, which is where the strict
    certificate matters; start_m=2 forces several deepening rounds."""
    from health_data_transformation_spark.operators.similarity import (
        ta_topk_fusion,
    )

    data = [(i, sa, sb) for i, (sa, sb) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, sa long, sb long")
    got = [
        (r["id"], r["combined"], r["rk"])
        for r in ta_topk_fusion(df, k, id_col="id", start_m=2)
        .orderBy("rk")
        .collect()
    ]
    expect = sorted(data, key=lambda t: (-(t[1] + t[2]), t[0]))[:k]
    assert got == [
        (i, sa + sb, rk) for rk, (i, sa, sb) in enumerate(expect, 1)
    ]


def test_decimal_exact_floor_div_past_int64(spark):
    """The q271 overflow class (ADVICE r4, high): Spark's `a div b` on
    DECIMAL operands returns BIGINT and silently wraps modulo 2^64 when
    the true quotient exceeds int64.  The engine's replacement identity
    (v - v % d) / d stays in decimal arithmetic and is EXACT (the
    remainder is subtracted first so the division has no fractional
    part to round).  Pin both facts: `div` wraps on a quotient past
    int64, the identity does not — on the exact value shape q271 uses
    (variance numerator / (n-1))."""
    # quotient = 2^63 + 12345 — one past the int64 cliff
    q = 2**63 + 12345
    d = 97
    v = q * d
    df = spark.createDataFrame(
        [(str(v), d)], "v_str string, d long"
    ).selectExpr(
        "CAST(v_str AS DECIMAL(38,0)) AS v",
        "CAST(d AS DECIMAL(38,0)) AS d",
    )
    row = df.selectExpr(
        "v div d AS wrapped",
        "CAST((v - v % d) / d AS DECIMAL(38,0)) AS exact",
    ).collect()[0]
    assert int(row["exact"]) == q  # decimal identity: exact past int64
    assert row["wrapped"] != q  # BIGINT div wrapped (the bug class)
    assert row["wrapped"] == ((q + 2**63) % 2**64) - 2**63

    # and at a q271-realistic 100 TB magnitude: n_h ~ 3e10 rows of
    # cents^2 sums ~ 1e26 — quotient ~ 3e15 * int64-scale numerators
    n_h, var = 30_000_000_000, 3 * 10**14
    v2 = (n_h - 1) * n_h * var  # divisible by n_h - 1 by construction
    row2 = (
        spark.createDataFrame([(str(v2), n_h - 1)], "v_str string, d long")
        .selectExpr(
            "CAST(v_str AS DECIMAL(38,0)) AS v",
            "CAST(d AS DECIMAL(38,0)) AS d",
        )
        .selectExpr("CAST((v - v % d) / d AS DECIMAL(38,0)) AS exact")
        .collect()[0]
    )
    assert int(row2["exact"]) == n_h * var


@given(
    w=st.integers(1, 37),
    h=st.integers(1, 23),
    seed=st.integers(0, 2**31),
)
@settings(**SETTINGS)
def test_bmp_roundtrip_arbitrary_dims(w, h, seed):
    """Pure-codec property (no Spark): encode->decode is the identity
    for ANY (h, w) uint8 BGR array — odd widths exercise the 4-byte
    stride padding (w=30 pads 90->92; w=31 pads 93->96; w=4 none),
    h=1 the single-row path, and both are sizes the fixed-width
    fixtures in q53/q84 never hit."""
    import numpy as np

    from health_data_transformation_spark.multimodal import (
        bmp_encode_pixels,
        bmp_pixels,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = bmp_pixels(bmp_encode_pixels(px))
    assert out.shape == (h, w, 3)
    assert (out == px).all()


@given(
    w=st.integers(1, 19),
    h=st.integers(1, 13),
    ow=st.integers(1, 9),
    oh=st.integers(1, 9),
    seed=st.integers(0, 2**31),
)
@settings(**SETTINGS)
def test_bmp_resize_equals_numpy_index_map(w, h, ow, oh, seed):
    """bmp_resize_nn over the container equals the bare numpy NN index
    map over the pixels, for arbitrary source and target dims."""
    import numpy as np

    from health_data_transformation_spark.multimodal import (
        bmp_encode_pixels,
        bmp_pixels,
        bmp_resize_nn,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    got = bmp_pixels(bmp_resize_nn(bmp_encode_pixels(px), ow, oh))
    rr = (np.arange(oh) * h) // oh
    cc = (np.arange(ow) * w) // ow
    assert (got == px[rr][:, cc]).all()


def test_bmp_quarantine_classification():
    """Every corruption mode lands in its taxonomy bucket; an intact
    file decodes; truncation raises instead of mis-decoding."""
    import numpy as np
    import pytest

    from health_data_transformation_spark.multimodal import (
        bmp_encode_gray24,
        bmp_pixels,
        classify_bmp_error,
        corrupt_bmp_for_test,
    )

    intact = bmp_encode_gray24(b"hello quarantine world", width=7)
    assert bmp_pixels(intact).shape[1] == 7
    for mode, expect in [(1, "bad_magic"), (2, "bad_format"), (3, "corrupt")]:
        bad = corrupt_bmp_for_test(intact, mode)
        with pytest.raises(Exception) as ei:
            bmp_pixels(bad)
        assert classify_bmp_error(ei.value) == expect
    # top-down (negative height) variant also roundtrips
    import struct

    neg = bytearray(intact)
    (h,) = struct.unpack_from("<i", intact, 22)
    struct.pack_into("<i", neg, 22, -h)
    px_bu = bmp_pixels(intact)
    px_td = bmp_pixels(bytes(neg))
    assert (px_td == px_bu[::-1]).all()


@given(
    data=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50)),
        min_size=0,
        max_size=40,
        unique_by=lambda t: t,
    )
)
@settings(**SETTINGS)
def test_grouped_running_sum_partition_invariant(spark, data):
    """grouped_running_sum equals the naive per-group exclusive prefix
    sum for arbitrary data AND arbitrary physical layout (the
    repartition must not change any offset)."""
    from health_data_transformation_spark.operators.topk import (
        grouped_running_sum,
    )

    rows = [(g, i, (g * 7 + i) % 13) for g, i in data]
    df = spark.createDataFrame(rows, "g int, i int, v int")
    for layout in (df, df.repartition(7)):
        got = {
            (r["g"], r["i"]): r["cum_before"]
            for r in grouped_running_sum(
                layout, "g", [F.asc("i")], "v"
            ).collect()
        }
        expect = {}
        for g in {t[0] for t in rows}:
            acc = 0
            for gg, i, v in sorted(r for r in rows if r[0] == g):
                expect[(g, i)] = acc
                acc += v
        assert got == expect


@given(n=st.integers(1, 97), k=st.integers(1, 12))
@settings(**SETTINGS)
def test_closed_form_ntile_equals_window_ntile(spark, n, k):
    """The q68 rewrite's closed-form bucket assignment (first n%k
    buckets hold ceil(n/k) rows) must be bit-identical to Spark's own
    ntile(k) window for every (n, k) — including n < k, n % k == 0,
    and k == 1."""
    from pyspark.sql import Window

    df = spark.createDataFrame([(i,) for i in range(n)], "rn_raw long")
    w = Window.orderBy("rn_raw")
    expect = {
        r["rn_raw"]: r["q"]
        for r in df.select(
            "rn_raw", F.ntile(k).over(w).alias("q")
        ).collect()
    }
    got = {
        r["rn_raw"]: r["q"]
        for r in df.selectExpr(
            "rn_raw",
            f"rn_raw + 1 AS rn",
            f"CAST({n} AS BIGINT) AS nn",
        )
        .selectExpr(
            "rn_raw",
            f"""CASE WHEN rn <= (nn % {k}) * (nn div {k} + 1)
                 THEN (rn - 1) div (nn div {k} + 1) + 1
                 ELSE (nn % {k})
                  + (rn - (nn % {k}) * (nn div {k} + 1) - 1)
                    div (nn div {k}) + 1 END AS q""",
        )
        .collect()
    }
    assert got == expect


@given(
    data=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_global_running_max_partition_invariant(spark, data):
    """global_running_max equals the naive exclusive prefix max for
    arbitrary data and arbitrary physical layout."""
    from health_data_transformation_spark.operators.topk import (
        global_running_max,
    )

    rows = sorted(set(data))
    df = spark.createDataFrame(
        [(a, b) for a, b in rows] or [(0, 0)], "a int, b int"
    )
    if not rows:
        rows = [(0, 0)]
    for layout in (df, df.repartition(5)):
        got = {
            (r["a"], r["b"]): r["max_before"]
            for r in global_running_max(
                layout, [F.asc("a"), F.asc("b")], "b"
            ).collect()
        }
        acc, expect = None, {}
        for a, b in rows:
            expect[(a, b)] = acc
            acc = b if acc is None or b > acc else acc
        assert got == expect



def _has_all_null_slice(df, n, keys, val_col):
    """True when range-partitioning ``df`` on ``keys`` into ``n`` slices
    (the layout the prefix scans read) leaves a slice whose
    ``val_col`` is entirely NULL."""
    per_slice = (
        df.repartitionByRange(n, *keys)
        .groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("n"), F.count(val_col).alias("nv"))
        .collect()
    )
    return any(r["n"] > 0 and r["nv"] == 0 for r in per_slice)


def test_prefix_scans_skip_null_values(spark):
    """NULL values in ``val_col`` count as nothing: the running sums
    equal the naive exclusive sums over the non-NULL values, and the
    running max the naive exclusive max (NULL until a value is seen) —
    also across a range slice that holds only NULLs, whose collected
    slice aggregate is NULL."""
    from health_data_transformation_spark.operators.topk import (
        global_running_max,
        global_running_sum,
        grouped_running_sum,
    )

    rows = [
        (k, None if k < 10 or 20 <= k < 25 else (k * 37) % 11 - 3)
        for k in range(30)
    ]
    df = spark.createDataFrame(rows, "k long, v long").repartition(4)
    sum_before, max_before = {}, {}
    acc_s, acc_m = 0, None
    for k, v in rows:
        sum_before[k], max_before[k] = acc_s, acc_m
        if v is not None:
            acc_s += v
            acc_m = v if acc_m is None or v > acc_m else acc_m
    for n in (3, 6):
        assert _has_all_null_slice(df, n, [F.asc("k")], "v")
        got_s = {
            r["k"]: r["cum_before"]
            for r in global_running_sum(
                df, [F.asc("k")], "v", num_partitions=n
            ).collect()
        }
        assert got_s == sum_before
        got_m = {
            r["k"]: r["max_before"]
            for r in global_running_max(
                df, [F.asc("k")], "v", num_partitions=n
            ).collect()
        }
        assert got_m == max_before

    nulls = {"a": {0, 2}, "b": {1}}
    grows = [
        (g, i, None if i // 5 in nulls[g] else (i * 7 + ord(g)) % 13)
        for g in ("a", "b")
        for i in range(15)
    ]
    gdf = spark.createDataFrame(grows, "g string, i int, v int").repartition(3)
    expect, acc = {}, {}
    for g, i, v in grows:
        expect[(g, i)] = acc.get(g, 0)
        acc[g] = acc.get(g, 0) + (v or 0)
    assert _has_all_null_slice(gdf, 6, [F.asc("g"), F.asc("i")], "v")
    got = {
        (r["g"], r["i"]): r["cum_before"]
        for r in grouped_running_sum(
            gdf, "g", [F.asc("i")], "v", num_partitions=6
        ).collect()
    }
    assert got == expect

def test_decode_quarantine_split_is_total(spark):
    """decode_quarantine_pipeline emits EXACTLY one row per input
    payload regardless of corruption mix — the P9 totality contract
    (n_ok + n_quarantined == n_in), and statuses partition cleanly."""
    import pandas as pd

    from health_data_transformation_spark.multimodal import (
        bmp_encode_gray24,
        corrupt_bmp_for_test,
        decode_quarantine_pipeline,
    )

    rows = []
    for i in range(40):
        payload = corrupt_bmp_for_test(
            bmp_encode_gray24(f"doc {i} payload".encode(), width=7), i % 5
        )
        rows.append((i, bytearray(payload)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = decode_quarantine_pipeline(df).toPandas()
    assert len(out) == 40
    assert sorted(out["doc_id"]) == list(range(40))
    by_status = out.groupby("status")["doc_id"].count().to_dict()
    # i % 5: modes 1/2/3 corrupt (8 docs each), 0 and 4 intact (16)
    assert by_status == {
        "ok": 16, "bad_magic": 8, "bad_format": 8, "corrupt": 8
    }
    # pixel features exist exactly for the ok rows
    assert out["pixel_sum"].notna().sum() == 16
    assert (out.loc[out["status"] == "ok", "pixel_sum"] > 0).all()


@given(
    w=st.integers(1, 23),
    h=st.integers(1, 17),
    ph=st.integers(1, 6),
    pw=st.integers(1, 7),
    seed=st.integers(0, 2**31),
)
@settings(**SETTINGS)
def test_patch_grid_stats_equals_naive(w, h, ph, pw, seed):
    """patch_grid_stats (reduceat lattice) equals the naive per-patch
    double loop for ANY image dims and patch sizes — edge patches with
    partial extent, patch sizes larger than the image, 1-pixel
    images.  Also closes the loop through the real codec: the grid of
    a decoded encode matches the grid of the source array."""
    import numpy as np

    from health_data_transformation_spark.multimodal import (
        bmp_encode_pixels,
        bmp_pixels,
        patch_grid_stats,
    )

    rng = np.random.default_rng(seed)
    ch = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    counts, sums = patch_grid_stats(ch, ph, pw)
    n_pr, n_pc = -(-h // ph), -(-w // pw)
    assert counts.shape == (n_pr, n_pc) == sums.shape
    for pr in range(n_pr):
        for pc in range(n_pc):
            block = ch[pr * ph : (pr + 1) * ph, pc * pw : (pc + 1) * pw]
            assert counts[pr, pc] == block.size
            assert sums[pr, pc] == int(block.astype(np.int64).sum())
    assert int(counts.sum()) == h * w
    assert int(sums.sum()) == int(ch.astype(np.int64).sum())
    px = np.repeat(ch, 3).reshape(h, w, 3)
    _, sums2 = patch_grid_stats(
        bmp_pixels(bmp_encode_pixels(px))[:, :, 2], ph, pw
    )
    assert (sums2 == sums).all()


@given(
    vals=st.lists(
        st.tuples(
            st.integers(-(10**30), 10**30),  # signed dividend v
            st.integers(1, 10**15),  # positive divisor d
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_exdiv_identity_matches_python_truncation(spark, vals):
    """The `_exdiv` decimal floor/truncation identity (v - v % d)/d —
    load-bearing in q298/q303/q304/q311/q316/q321/q322/q323/q326/q327
    — equals Python's exact semantics on a real Spark session:
    floor division for v >= 0, truncation toward zero for v < 0
    (Spark's % follows the dividend sign, so subtracting the
    remainder leaves an exact multiple; the DECIMAL division is then
    exact far past int64, where bare `div` silently wraps)."""
    import pyspark.sql.functions as F

    from health_data_transformation_spark.plans.analytics import _exdiv

    rows = [(i, str(v), str(d)) for i, (v, d) in enumerate(vals)]
    df = spark.createDataFrame(rows, "i int, v string, d string").select(
        "i",
        F.expr(
            _exdiv(
                "CAST(v AS DECIMAL(38,0))", "CAST(d AS DECIMAL(38,0))"
            )
        ).alias("q"),
    )
    got = {r["i"]: int(r["q"]) for r in df.collect()}
    for i, (v, d) in enumerate(vals):
        expect = v // d if v >= 0 else -((-v) // d)  # trunc toward zero
        assert got[i] == expect, (v, d, got[i], expect)


def test_grouped_running_sum_null_and_boolean_groups(spark):
    """ADVICE-r5 regression: the slice-offset map key must come from
    Spark's string-cast semantics, not Python repr.  A NULL group key
    (concat_ws skips NULLs) and a boolean group ('True' vs 'true')
    both made element_at miss and cum_before come out NULL/wrong."""
    from health_data_transformation_spark.operators.topk import (
        grouped_running_sum,
    )

    # NULL group: all its rows form one group, exclusive prefix sums.
    df = spark.createDataFrame(
        [(None, 1, 10), (None, 2, 20), ("a", 1, 5), (None, 3, 1), ("a", 2, 7)],
        "g string, i int, v int",
    )
    got = {
        (r["g"], r["i"]): r["cum_before"]
        for r in grouped_running_sum(
            df.repartition(4), "g", [F.asc("i")], "v", num_partitions=3
        ).collect()
    }
    assert got == {
        (None, 1): 0,
        (None, 2): 10,
        (None, 3): 30,
        ("a", 1): 0,
        ("a", 2): 5,
    }

    # Boolean group: Python str(True)='True' but Spark cast yields
    # 'true' — the old build-side key never matched the probe.
    dfb = spark.createDataFrame(
        [(True, 1, 3), (True, 2, 4), (False, 1, 9), (False, 2, 1)],
        "g boolean, i int, v int",
    )
    gotb = {
        (r["g"], r["i"]): r["cum_before"]
        for r in grouped_running_sum(
            dfb.repartition(3), "g", [F.asc("i")], "v", num_partitions=2
        ).collect()
    }
    assert gotb == {
        (True, 1): 0,
        (True, 2): 3,
        (False, 1): 0,
        (False, 2): 9,
    }


def test_global_running_max_many_partitions_map_lookup(spark):
    """ADVICE-r5 regression: the slice offset is now a create_map
    lookup, not an O(partitions)-deep when/otherwise chain.  Verify
    correctness at a few hundred range partitions (the regime where
    the nested chain risked codegen/stack blowups)."""
    from health_data_transformation_spark.operators.topk import (
        global_running_max,
    )

    n = 400
    rows = [(i, (i * 37) % 101) for i in range(n)]
    df = spark.createDataFrame(rows, "i int, v int")
    got = {
        r["i"]: r["max_before"]
        for r in global_running_max(
            df.repartition(16), [F.asc("i")], "v", num_partitions=200
        ).collect()
    }
    acc = None
    for i, v in rows:
        assert got[i] == acc, (i, got[i], acc)
        acc = v if acc is None or v > acc else acc


def test_decode_quarantine_null_payload_and_typed_taxonomy(spark):
    """ADVICE-r5 regression: a NULL binary payload must land in a
    'null_payload' quarantine row (not TypeError the Arrow task), and
    classification keys on the decoder's TYPED exceptions."""
    from health_data_transformation_spark.multimodal import (
        BmpFormatError,
        BmpMagicError,
        bmp_encode_gray24,
        classify_bmp_error,
        corrupt_bmp_for_test,
        decode_quarantine_pipeline,
    )

    good = bmp_encode_gray24(b"hello world payload", 5)
    rows = [
        (1, good),
        (2, None),
        (3, corrupt_bmp_for_test(good, 1)),
        (4, corrupt_bmp_for_test(good, 2)),
        (5, corrupt_bmp_for_test(good, 3)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc_id"]: (r["status"], r["pixel_sum"])
        for r in decode_quarantine_pipeline(df).collect()
    }
    assert len(out) == 5  # split is total: one row per input
    assert out[1][0] == "ok" and out[1][1] is not None
    assert out[2] == ("null_payload", None)
    assert out[3] == ("bad_magic", None)
    assert out[4] == ("bad_format", None)
    assert out[5] == ("corrupt", None)

    # classification is type-keyed: a reworded message cannot
    # reclassify (the old substring matcher would return 'corrupt').
    assert classify_bmp_error(BmpMagicError("reworded entirely")) == "bad_magic"
    assert classify_bmp_error(BmpFormatError("reworded entirely")) == "bad_format"
    assert classify_bmp_error(ValueError("magic")) == "corrupt"


docs_strategy = st.lists(
    st.tuples(
        st.integers(0, 9),
        st.lists(
            st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
            min_size=1,
            max_size=6,
        ),
    ),
    min_size=1,
    max_size=10,
    unique_by=lambda t: t[0],
)


@given(data=docs_strategy)
@settings(**SETTINGS)
def test_lsh_candidate_pairs_equal_naive_band_collisions(spark, data):
    """Banding completeness/soundness on arbitrary corpora: the
    distributed candidate set must equal EXACTLY the pairs whose
    signatures agree on >= 1 full band, computed naively in Python from
    the collected signature rows.  Pins the one-pass explode fanout +
    shuffle-hash self-join rewrite to the banding definition itself
    (not just to fixture examples): no pair invented, no pair lost,
    regardless of duplicate texts, singleton docs, or empty overlap."""
    from health_data_transformation_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in data], "doc_id long, text string"
    )
    sigs = dedup.minhash_signatures(df, num_hashes=4)
    rows = {r["doc_id"]: [r[f"sig{j}"] for j in range(4)] for r in sigs.collect()}
    ids = sorted(rows)
    expected = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if any(
            rows[a][band * 2 : band * 2 + 2] == rows[b][band * 2 : band * 2 + 2]
            for band in range(2)
        )
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs, band_size=2, num_hashes=4).collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),          # group key
            st.integers(-5000, 5000),   # value (mixed sign -> shift path)
            st.integers(1, 4),          # weight
        ),
        min_size=1,
        max_size=40,
    ),
)
@settings(**SETTINGS)
def test_grouped_weighted_quantiles_matches_python_reference(spark, rows):
    """The r7 multi-quantile operator (one locate + one refine pass for
    ALL quantiles) against a naive Python reference of the documented
    definition: the smallest value whose cumulative weight reaches
    q_num/q_den of the group total (lower weighted quantile)."""
    from health_data_transformation_spark.operators.profile import (
        grouped_weighted_quantiles,
    )

    specs = {"p25": (1, 4), "p50": (1, 2), "p90": (9, 10)}
    df = spark.createDataFrame(rows, "k long, v long, w long")
    got = {
        (r["k"], r["q"]): (r["quantile_value"], r["total_weight"])
        for r in grouped_weighted_quantiles(df, "k", "v", "w", specs).collect()
    }

    by_key: dict[int, list[tuple[int, int]]] = {}
    for k, v, w in rows:
        by_key.setdefault(k, []).append((v, w))
    for k, vw in by_key.items():
        vw.sort()
        tot = sum(w for _, w in vw)
        for label, (qn, qd) in specs.items():
            cum = 0
            expect = None
            for v, w in vw:
                cum += w
                if cum * qd >= qn * tot:
                    expect = v
                    break
            assert got[(k, label)] == (expect, tot), (k, label)
    assert len(got) == len(by_key) * len(specs)


# small alphabet of vector values forces byte-identical collisions;
# ids are distinct by construction (enumerate) so min-keeper is
# deterministic
_vec_alphabet = st.sampled_from(
    # every value exactly float32-representable, so the Spark-collected
    # array<float> round-trips bit-equal to the Python reference
    [(1.0, 2.0), (1.0, 2.125), (-3.5, 0.0), (0.0, 0.0), (7.25, -8.5)]
)


@given(vecs=st.lists(_vec_alphabet, min_size=1, max_size=30))
@settings(**SETTINGS)
def test_exact_vector_prepass_equals_python_grouping(spark, vecs):
    """§8.10: (reps, groups) must exactly equal the Python grouping of
    byte-identical vectors — keeper = min id per distinct vector,
    sum(n_copies) == N (no row lost or double-counted), reps carry
    exactly the keeper rows with their original payload."""
    from health_data_transformation_spark.operators.similarity import (
        exact_vector_prepass,
    )

    rows = [(i, list(v)) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    reps, groups = exact_vector_prepass(df)

    by_vec: dict[tuple, list[int]] = {}
    for i, v in enumerate(vecs):
        by_vec.setdefault(v, []).append(i)

    got_groups = {
        (tuple(r["embedding"]), r["keeper_id"]): r["n_copies"]
        for r in groups.collect()
    }
    assert got_groups == {
        (tuple(float(x) for x in v), min(ids)): len(ids)
        for v, ids in by_vec.items()
    }
    assert sum(got_groups.values()) == len(vecs)

    got_reps = {r["vec_id"]: tuple(r["embedding"]) for r in reps.collect()}
    assert got_reps == {
        min(ids): tuple(float(x) for x in v) for v, ids in by_vec.items()
    }

    # the 100 TB path (128-bit xxhash64 fingerprint key, constant-width
    # shuffle) must produce the identical (reps, groups)
    freps, fgroups = exact_vector_prepass(df, fingerprint=True)
    assert {
        (tuple(r["embedding"]), r["keeper_id"]): r["n_copies"]
        for r in fgroups.collect()
    } == got_groups
    assert {
        r["vec_id"]: tuple(r["embedding"]) for r in freps.collect()
    } == got_reps


@given(
    sizes=st.lists(st.integers(1, 12), min_size=1, max_size=8),
    budget=st.integers(0, 300),
)
@settings(**SETTINGS)
def test_pair_budget_matches_python_model(spark, sizes, budget):
    """apply_pair_budget == the rule stated in its docstring, pinned
    against an independent Python model over arbitrary group-size
    multisets: threshold = largest size class whose cumulative
    (sizes ascending) C(g,2) total fits the budget; kept rows =
    exactly the groups at or under the threshold; the summed pair
    volume of kept groups never exceeds the budget."""
    from health_data_transformation_spark.operators.similarity import (
        apply_pair_budget,
    )

    rows = [
        (g * 100 + i, f"k{g}") for g, n in enumerate(sizes) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, k string")

    cum, thr = 0, 0
    for gn in sorted(set(sizes)):
        cum += sizes.count(gn) * gn * (gn - 1) // 2
        if cum <= budget:
            thr = gn
    expect = {f"k{g}" for g, n in enumerate(sizes) if n <= thr}
    kept_rows = apply_pair_budget(df, "k", budget).collect()
    assert {r["k"] for r in kept_rows} == expect
    # rows survive intact (no helper-column leakage, full groups kept)
    assert len(kept_rows) == sum(n for n in sizes if n <= thr)
    assert sum(n * (n - 1) // 2 for n in sizes if n <= thr) <= budget


@given(
    build_sizes=st.lists(st.integers(0, 9), min_size=1, max_size=6),
    probe_sizes=st.lists(st.integers(0, 9), min_size=1, max_size=6),
    budget=st.integers(0, 200),
)
@settings(**SETTINGS)
def test_join_pair_budget_matches_python_model(
    spark, build_sizes, probe_sizes, budget
):
    """apply_join_pair_budget == its documented rule, pinned against
    an independent Python model: per shared key the volume is the
    PRODUCT of the two sides' counts, volumes compress to bit-length
    classes, a class is kept iff the cumulative volume through it
    (classes ascending) fits the budget, and the returned frame is
    the BUILD side semi-joined to kept keys (build-only keys drop —
    they emit no candidates).  Kept volume never exceeds the budget."""
    from health_data_transformation_spark.operators.similarity import (
        apply_join_pair_budget,
    )

    nkeys = max(len(build_sizes), len(probe_sizes))
    build_rows = [
        (k * 100 + i, f"b{k}")
        for k, n in enumerate(build_sizes)
        for i in range(n)
    ]
    probe_rows = [
        (k * 100 + i, f"b{k}")
        for k, n in enumerate(probe_sizes)
        for i in range(n)
    ]
    if not build_rows or not probe_rows:
        return
    build = spark.createDataFrame(build_rows, "id long, bucket string")
    probe = spark.createDataFrame(probe_rows, "id long, bucket string")

    vols = {}
    for k in range(nkeys):
        nb = build_sizes[k] if k < len(build_sizes) else 0
        np_ = probe_sizes[k] if k < len(probe_sizes) else 0
        if nb > 0 and np_ > 0:
            vols[f"b{k}"] = nb * np_
    cum, thr = 0, 0
    for cls in sorted({v.bit_length() for v in vols.values()}):
        cum += sum(v for v in vols.values() if v.bit_length() == cls)
        if cum <= budget:
            thr = cls
    expect_keys = {key for key, v in vols.items() if v.bit_length() <= thr}
    got = apply_join_pair_budget(build, probe, "bucket", budget).collect()
    assert {r["bucket"] for r in got} == expect_keys
    assert len(got) == sum(
        n
        for k, n in enumerate(build_sizes)
        if f"b{k}" in expect_keys
    )
    assert sum(vols[k] for k in expect_keys) <= budget


def test_codec_seam_contract_decode_and_resize():
    """VERDICT r11 task #7: the env-gated codec seam's CONTRACT is
    pinned with no environment dependency — a future PIL/ffmpeg
    drop-in for decode_media_stub / resize_media_stub must produce
    exactly the fields the Arrow pipeline schema declares (else it
    would silently change the differential surface), and the stubs
    themselves must stay loud until that drop-in exists."""
    import pytest as _pytest

    from health_data_transformation_spark.multimodal import (
        DECODE_SCHEMA,
        decode_media_stub,
        fake_decode,
        fake_resize,
        resize_media_stub,
    )

    # The pipeline reads these keys from whatever decode_fn returns;
    # DECODE_SCHEMA declares them (plus the pass-through doc_id).
    declared = [
        f.strip().split()[0] for f in DECODE_SCHEMA.split(",")
    ]
    assert declared[0] == "doc_id"
    feature_fields = set(declared[1:])

    out = fake_decode(b"some media payload")
    assert set(out.keys()) == feature_fields, (
        "fake_decode's output fields diverged from DECODE_SCHEMA — a "
        "real-codec drop-in replacing decode_media_stub must emit "
        f"exactly {sorted(feature_fields)}"
    )
    # value types must be castable to the declared Spark types
    assert isinstance(out["n_bytes"], int)
    assert isinstance(out["feature_mean"], float)
    assert isinstance(out["feature_dim"], int)
    # empty payload: total function, no division blowup
    empty = fake_decode(b"")
    assert set(empty.keys()) == feature_fields
    assert empty["n_bytes"] == 0 and empty["feature_mean"] == 0.0

    # resize contract: output is bytes of exactly w*h, any input size
    for payload in (b"", b"x", b"0123456789" * 7):
        resized = fake_resize(payload, 8, 5)
        assert isinstance(resized, bytes) and len(resized) == 8 * 5

    # the seams stay loud until a real codec lands
    with _pytest.raises(NotImplementedError):
        decode_media_stub(b"x")
    with _pytest.raises(NotImplementedError):
        resize_media_stub(b"x", 4, 4)
