"""Unit tests per operator family (SURVEY.md §5 layer 1)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from health_data_transformation_spark.operators import cleaning, dedup, topk, validate


def test_replace_sentinel(spark):
    df = spark.createDataFrame(
        [(1, -999999.0), (2, 5.0), (3, None)], "id int, v double"
    )
    out = cleaning.replace_sentinel(df, ["v"], -999999.0)
    vals = {r["id"]: r["v"] for r in out.collect()}
    assert vals == {1: None, 2: 5.0, 3: None}


def test_map_values_keep_and_null(spark):
    df = spark.createDataFrame([("Yes",), ("No",), ("Maybe",)], "v string")
    kept = cleaning.map_values(df, "v", {"Yes": "T", "No": "F"})
    assert {r["v"] for r in kept.collect()} == {"T", "F", "Maybe"}
    nulled = cleaning.map_values(df, "v", {"Yes": "T", "No": "F"}, otherwise="null")
    assert {r["v"] for r in nulled.collect()} == {"T", "F", None}


def test_normalize_headers(spark):
    df = spark.createDataFrame([(1, 2)], ["Facility ID", "Hospital Type"])
    assert cleaning.normalize_headers(df).columns == ["facility_id", "hospital_type"]


def test_lenient_cast(spark):
    df = spark.createDataFrame([("1.5",), ("oops",), (None,)], "v string")
    out = cleaning.cast_columns(df, {"v": "double"})
    assert [r["v"] for r in out.collect()] == [1.5, None, None]


def test_validate_null_passes_bound_check(spark):
    # NULL passes >= 0 (reference pd.isna short-circuit, load_hhs.py:104)
    df = spark.createDataFrame([(1, None), (2, -1.0), (3, 3.0)], "id int, v double")
    split = validate.split_valid(df, validate.non_negative(["v"]))
    assert {r["id"] for r in split.valid.collect()} == {1, 3}
    bad = split.invalid.collect()
    assert [r["id"] for r in bad] == [2]
    assert bad[0]["_failed_rules"] == ["v_non_negative"]
    # counts come from the first action's pass over the input
    assert split.counts.get == {"input_rows": 3, "invalid_rows": 1}
    split.flagged.unpersist()


def test_validate_multiple_rules_reported(spark):
    df = spark.createDataFrame([(1, -1.0, None)], "id int, a double, b string")
    rules = validate.non_negative(["a"]) + validate.not_null(["b"])
    split = validate.split_valid(df, rules)
    assert split.invalid.collect()[0]["_failed_rules"] == ["a_non_negative", "b_not_null"]
    split.flagged.unpersist()


def test_validate_null_verdict_fails_the_rule(spark):
    # a NULL verdict outside null_passing_cols fails its rule: the row
    # is invalid (not dropped from both sides) and the rule is named
    df = spark.createDataFrame([(1, None), (2, -1.0), (3, 3.0)], "id int, v double")
    split = validate.split_valid(df, [validate.Rule("v_pos", "v >= 0")])
    assert [r["id"] for r in split.valid.collect()] == [3]
    bad = {r["id"]: r["_failed_rules"] for r in split.invalid.collect()}
    assert bad == {1: ["v_pos"], 2: ["v_pos"]}
    assert split.counts.get == {"input_rows": 3, "invalid_rows": 2}
    split.flagged.unpersist()


def test_rule_name_with_a_quote_is_reported_verbatim(spark):
    df = spark.createDataFrame([(1, -1.0)], "id int, v double")
    split = validate.split_valid(df, [validate.Rule("it's_bad", "v >= 0")])
    assert split.invalid.collect()[0]["_failed_rules"] == ["it's_bad"]
    split.flagged.unpersist()


def test_odd_column_names_clean_validate_and_project(spark):
    # names with a space and a backtick are quoted in every SQL text
    df = spark.createDataFrame(
        [(1, -999999.0, "a"), (2, -1.0, "b"), (3, 2.0, None)],
        "id int, `m v` double, `x``y` string",
    )
    df = cleaning.replace_sentinel(df, ["m v"], -999999.0)
    df = cleaning.map_values(df, "x`y", {"a": "it's"})
    assert df.columns == ["id", "m v", "x`y"]
    split = validate.split_valid(
        df, validate.non_negative(["m v"]) + validate.not_null(["x`y"])
    )
    assert [tuple(r) for r in split.valid.collect()] == [(1, None, "it's")]
    bad = {r["id"]: r["_failed_rules"] for r in split.invalid.collect()}
    assert bad == {2: ["m v_non_negative"], 3: ["x`y_not_null"]}
    assert split.invalid.columns == ["id", "m v", "x`y", "_failed_rules"]
    split.flagged.unpersist()


def test_rule_on_a_missing_column_raises_at_split(spark):
    from pyspark.errors import AnalysisException

    df = spark.createDataFrame([(1, 2.0)], "id int, v double")
    for rules in ([validate.Rule("r", "nope >= 0")], validate.non_negative(["nope"])):
        with pytest.raises(AnalysisException):
            validate.split_valid(df, rules)


def test_dedup_first_wins_deterministic(spark):
    df = spark.createDataFrame(
        [("k1", "2022-01-01", 10.0), ("k1", "2022-01-01", 99.0), ("k2", "2022-01-01", 5.0)],
        "k string, wk string, v double",
    )
    out = dedup.dedup_first_wins(df, ["k", "wk"], ["v"])
    vals = {r["k"]: r["v"] for r in out.collect()}
    assert vals == {"k1": 10.0, "k2": 5.0}
    # order of input rows must not matter
    out2 = dedup.dedup_first_wins(
        df.orderBy(F.col("v").desc()), ["k", "wk"], ["v"]
    )
    assert {r["k"]: r["v"] for r in out2.collect()} == vals


def test_anti_semi_join(spark):
    batch = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    target = spark.createDataFrame([("b",)], "k string")
    assert {r["k"] for r in dedup.anti_join_new(batch, target, ["k"]).collect()} == {
        "a",
        "c",
    }
    assert {
        r["k"] for r in dedup.semi_join_existing(batch, target, ["k"]).collect()
    } == {"b"}


def test_minhash_identical_docs_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "spark fast engine"), (2, "spark fast engine"), (3, "utterly different words")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: (r["sig0"], r["sig1"]) for r in
            dedup.minhash_signatures(df, num_hashes=2).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_lsh_candidate_pairs_find_near_dups(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely unrelated text about spark engines"),
        ],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(df, num_hashes=8)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs, band_size=2, num_hashes=8).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_band_explode_bucket_formulas_pinned(spark):
    """Pin _band_explode's two bucket-hash variants to an independent
    Python md5 of the same concat string: the DuckDB oracles reproduce
    these buckets bit-for-bit, so any drift in the fanout rewrite
    (delimiter, band literal, cast formatting) must fail HERE, not in
    a registry differential."""
    import hashlib

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "pack my box with jugs")],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(df, num_hashes=4)
    sig_rows = {r["doc_id"]: r for r in sigs.collect()}

    def exp_bucket(doc, b, band_size, with_band):
        parts = [str(sig_rows[doc][f"sig{b * band_size + j}"]) for j in range(band_size)]
        if with_band:
            parts = [str(b)] + parts
        return hashlib.md5(",".join(parts).encode()).hexdigest()

    # band-in-hash variant (lsh_candidate_pairs / incremental bucketed)
    got = {
        (r["doc_id"], r["band"]): r["bucket"]
        for r in dedup._band_explode(sigs, "doc_id", 2, 4).collect()
    }
    assert len(got) == 4  # 2 docs x 2 bands, one signature pass fanout
    for doc in (1, 2):
        for b in (0, 1):
            assert got[(doc, b)] == exp_bucket(doc, b, 2, True)

    # band-NOT-in-hash variant (lsh_band_buckets historical formula)
    got2 = {
        (r["doc_id"], r["band"]): r["bucket"]
        for r in dedup._band_explode(
            sigs, "doc_id", 2, 4, band_in_hash=False
        ).collect()
    }
    for doc in (1, 2):
        for b in (0, 1):
            assert got2[(doc, b)] == exp_bucket(doc, b, 2, False)

    # out_id relabel used by lsh_incremental_matches' bucketed()
    cols = dedup._band_explode(sigs, "doc_id", 2, 4, out_id="id_c").columns
    assert cols == ["id_c", "band", "bucket"]


def test_lsh_candidate_pairs_max_bucket_caps_hot_buckets(spark):
    """max_bucket drops oversized buckets BEFORE pair expansion: five
    byte-identical docs share every band bucket, so cap=4 must kill all
    their pairs while an unrelated near-dup pair survives."""
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(5)]
    rows += [(10, "completely different corpus text entirely unrelated words"),
             (11, "completely different corpus text entirely unrelated phrase")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(df, num_hashes=8)
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(
            sigs, band_size=2, num_hashes=8, max_bucket=4
        ).collect()
    }
    assert all(a not in range(5) or b not in range(5) for a, b in capped)
    assert (10, 11) in capped
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sigs, band_size=2, num_hashes=8).collect()
    }
    assert {(a, b) for a in range(5) for b in range(a + 1, 5)} <= uncapped


def test_widen_coarse_scan_guard(spark):
    """The task-granularity guard repartitions a coarse (single-split)
    frame to the session reduce width, leaves an already-wide frame
    untouched, and never changes row content."""
    from health_data_transformation_spark.operators.skew import widen_coarse_scan

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    narrow = spark.range(1000).coalesce(1).withColumn("k", F.col("id") % 7)
    widened = widen_coarse_scan(narrow, "k")
    assert widened.rdd.getNumPartitions() == width
    assert widened.count() == 1000
    assert {r["id"] for r in widened.collect()} == set(range(1000))

    wide = spark.range(1000).repartition(width * 2, "id")
    same = widen_coarse_scan(wide, "id")
    assert same.rdd.getNumPartitions() == width * 2  # untouched


def test_session_reduce_width_degrades_on_non_numeric_conf(spark):
    """ADVICE r6: every advisory repartition probe must treat a
    non-numeric spark.sql.shuffle.partitions (Databricks AQE 'auto')
    as 'skip', never raise — spatial.grid_radius_pairs used to
    ValueError and fail q135/q315 outright."""
    from health_data_transformation_spark.operators.skew import (
        session_reduce_width,
        widen_coarse_scan,
    )

    assert session_reduce_width(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    class _AutoConf:
        def get(self, key):
            return "auto"

    class _AutoSession:
        conf = _AutoConf()

    assert session_reduce_width(_AutoSession()) == 0

    class _AutoFrame:
        sparkSession = _AutoSession()

    probe = _AutoFrame()
    assert widen_coarse_scan(probe, "k") is probe  # no-op, no df.rdd touch


def test_minhash_widen_opt_out_skips_rdd_probe(spark, monkeypatch):
    """ADVICE r6: lsh_incremental_matches feeds caller-supplied frames
    into minhash_signatures — widen=False must bypass the df.rdd split
    probe entirely (on exchange-bearing plans it materializes every
    upstream stage)."""
    from health_data_transformation_spark.operators import skew

    calls = []
    real = skew.widen_coarse_scan

    def spy(df, key):
        calls.append(key)
        return real(df, key)

    monkeypatch.setattr(skew, "widen_coarse_scan", spy)
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta")],
        "doc_id long, text string",
    )
    dedup.minhash_signatures(df, num_hashes=2, widen=False).collect()
    assert calls == []
    dedup.minhash_signatures(df, num_hashes=2).collect()
    assert calls == ["doc_id"]


def test_is_scan_rooted_classifies_plan_shapes(spark, tmp_path):
    """VERDICT r7 wrong #2: hand-annotating widen= per call site failed
    (fixed for q178, missed q180/q181).  is_scan_rooted must say True
    for table-scan + narrow projection/filter plans (guard safe/needed)
    and False for anything exchange-bearing or unrecognized (guard
    skipped — fail safe)."""
    from health_data_transformation_spark.operators.skew import is_scan_rooted

    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"tok{i} alpha beta") for i in range(20)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(path)

    scan = spark.read.parquet(path)
    assert is_scan_rooted(scan)
    assert is_scan_rooted(scan.select("doc_id", "text"))
    assert is_scan_rooted(scan.filter(F.col("doc_id") % 7 == 3).select("text"))
    # local relations are exchange-free too (df.rdd probe is trivial)
    local = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    assert is_scan_rooted(local)

    assert not is_scan_rooted(scan.groupBy("doc_id").count())
    assert not is_scan_rooted(scan.join(scan.alias("b"), "doc_id"))
    assert not is_scan_rooted(scan.orderBy("doc_id"))
    assert not is_scan_rooted(scan.repartition(4, "doc_id"))
    assert not is_scan_rooted(scan.distinct())

    # streaming frames can't be optimized batch-side: must return False,
    # never raise
    stream = spark.readStream.schema(scan.schema).parquet(str(tmp_path))
    assert not is_scan_rooted(stream)


def test_lsh_incremental_auto_widen_per_frame(spark, monkeypatch, tmp_path):
    """Regression pin for the r7 q180/q181 class: a scan-rooted
    single-split corpus must NOT serialize the signature stage — the
    widen=None default auto-applies the task-granularity guard to each
    scan-rooted frame, and still bypasses the df.rdd probe entirely for
    exchange-bearing caller frames (the r6-ADVICE protection)."""
    from health_data_transformation_spark.operators import skew

    calls = []
    real = skew.widen_coarse_scan

    def spy(df, key):
        calls.append(key)
        return real(df, key)

    monkeypatch.setattr(skew, "widen_coarse_scan", spy)

    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} alpha") for i in range(40)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(path)
    d = spark.read.parquet(path)
    corpus = d.filter(F.col("doc_id") % 7 != 3)
    batch = d.filter(F.col("doc_id") % 7 == 3)

    out = dedup.lsh_incremental_matches(
        corpus, batch, num_hashes=8, band_size=4, min_jaccard=0.4
    )
    # guard applied to BOTH scan-rooted frames...
    assert calls == ["doc_id", "doc_id"]
    # ...and the signature stage actually runs at session width, not 1
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sigs = dedup.minhash_signatures(corpus, num_hashes=8)
    assert sigs.rdd.getNumPartitions() == width
    assert out.count() == batch.count()

    # exchange-bearing caller frames: no probe, no guard (fail safe)
    calls.clear()
    agg_corpus = (
        d.groupBy("doc_id").agg(F.first("text").alias("text"))
    )
    dedup.lsh_incremental_matches(
        agg_corpus, batch, num_hashes=8, band_size=4, min_jaccard=0.4
    )
    assert calls == ["doc_id"]  # only the still-scan-rooted batch side


def test_simhash_close_for_near_dups(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df, bits=32).collect()}
    ham_12 = bin(sh[1] ^ sh[2]).count("1")
    ham_13 = bin(sh[1] ^ sh[3]).count("1")
    assert ham_12 < ham_13


def test_jaccard_pairs_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d", "x"), (2, "a b c e", "x"), (3, "a b", "y")],
        "doc_id long, text string, src string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(df, block_col="src").collect()
    }
    # |{a,b,c}| / |{a,b,c,d,e}| = 0.6; blocking excludes doc 3
    assert pairs == {(1, 2): 0.6}


def test_embedding_near_dup_pairs(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(df, min_cosine=0.99).collect()
    }
    assert pairs == {(1, 2)}


def test_embedding_near_dup_max_block(spark):
    """§8.10 cap parity: this operator is the exact quadratic verifier,
    so blocks over ``max_block`` (a hot IVF cell) are dropped BEFORE
    the pair join; surviving blocks pair normally."""
    rows = [(i, 1, [1.0, float(i) * 1e-4]) for i in range(5)]  # hot block
    rows += [
        (10, 2, [0.0, 1.0]),
        (11, 2, [0.01, 0.999]),
        (12, 2, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    kw = dict(block_col="label", min_cosine=0.99)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(df, **kw).collect()
    }
    assert (0, 1) in uncapped and (10, 11) in uncapped
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(df, max_block=4, **kw).collect()
    }
    assert capped == {(10, 11)}


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g1", 1, 10.0), ("g1", 2, 30.0), ("g1", 3, 20.0), ("g2", 4, 5.0)],
        "g string, id int, v double",
    )
    out = topk.top_k_per_group(df, ["g"], [F.col("v").desc(), F.col("id")], 2)
    got = {(r["g"], r["id"], r["rank"]) for r in out.collect()}
    assert got == {("g1", 2, 1), ("g1", 3, 2), ("g2", 4, 1)}


def test_top_and_bottom(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], "k string, v double"
    )
    out = topk.top_and_bottom(df, "v", "k", 1)
    got = {(r["side"], r["k"]) for r in out.collect()}
    assert got == {("top", "c"), ("bottom", "a")}


def test_hash_sample_is_layout_independent(spark):
    from health_data_transformation_spark.operators.sampling import (
        assign_split,
        hash_sample,
    )

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.1).collect()}
    b = {
        r["doc_id"]
        for r in hash_sample(df.repartition(17), "doc_id", 0.1).collect()
    }
    assert a == b  # layout must not affect membership
    assert 0.05 < len(a) / 2000 < 0.15

    splits = assign_split(df, "doc_id").groupBy("split").count().collect()
    got = {r["split"]: r["count"] for r in splits}
    assert set(got) == {"train", "valid", "test"}
    assert got["train"] > got["valid"] and got["train"] > got["test"]


def test_parse_point(spark):
    from health_data_transformation_spark.operators.cleaning import parse_point

    df = spark.createDataFrame(
        [("POINT (-79.9 40.4)",), ("garbage",), (None,)], "g string"
    )
    rows = parse_point(df, "g").collect()
    assert rows[0]["geo"]["lon"] == -79.9 and rows[0]["geo"]["lat"] == 40.4
    assert rows[1]["geo"] is None and rows[2]["geo"] is None


def test_lsh_recall_on_exact_duplicates(spark):
    """Property: exact-duplicate texts ALWAYS collide in every band, so
    LSH near-dup must report them with jaccard 1.0 regardless of
    banding parameters."""
    rows = [(i, f"alpha beta gamma delta epsilon {i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.lsh_near_dup_pairs(
            df, band_size=4, num_hashes=8, min_jaccard=0.99
        ).collect()
    }
    # every same-suffix pair is an exact duplicate -> must be found
    for i in range(30):
        for j in range(i + 1, 30):
            if i % 3 == j % 3:
                assert pairs.get((i, j)) == 1.0


def test_exact_prepass_unsaturates_lsh_buckets(spark):
    """The §8.9 contract operationalized (VERDICT r7 task #6): without
    the exact prepass, a byte-identical cluster bigger than max_bucket
    saturates every band bucket it touches and the cap drops the WHOLE
    cluster (r7 measured 0.009% pair recall on saturated clusters);
    with pre_dedup_exact=True the cluster collapses to one
    representative, the cap no longer fires on it, and near-dup pairs
    to its neighbors are found — while the groups table recovers the
    exact-copy membership compactly (C(g,2) via group id, linear)."""
    # 24 distinct tokens: a one-token mutation rarely moves a band's
    # min-hash, so variant<->template band collision is robust (and
    # deterministic for the fixed hash function — verified below)
    template = " ".join(f"tok{i:02d}" for i in range(24))
    rows = [(i, template) for i in range(12)]          # 12 exact copies
    rows.append((100, template.replace("tok07", "iota")))   # near variant
    rows.append((101, template.replace("tok19", "kappa")))  # near variant
    rows += [(200 + i, f"unrelated{i} solo{i} text{i}") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    kw = dict(band_size=2, num_hashes=8, min_jaccard=0.5, max_bucket=6)
    capped = dedup.lsh_near_dup_pairs(df, **kw).collect()
    # the 12-copy cluster saturates its buckets past the cap: no pair
    # touching the template survives (the measured r7 failure mode)
    assert not [r for r in capped if r["id_a"] < 100]

    reps_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_near_dup_pairs(
            df, pre_dedup_exact=True, **kw
        ).collect()
    }
    # the template collapsed to keeper 0; its variant pairs are found
    assert (0, 100) in reps_pairs and (0, 101) in reps_pairs
    # no non-keeper copy appears in any pair
    assert all(a == 0 or a >= 100 for a, _ in reps_pairs)

    reps, groups = dedup.exact_prepass(df)
    g = {r["keeper_id"]: r["n_copies"] for r in groups.collect()}
    assert g[0] == 12  # exact coverage: C(12,2) pairs, held compactly
    assert reps.count() == 1 + 2 + 3
    assert {r["doc_id"] for r in reps.select("doc_id").collect()} == (
        {0, 100, 101, 200, 201, 202}
    )


def test_simhash_pre_dedup_exact_one_row_per_content(spark):
    """simhash(pre_dedup_exact=True) votes once per distinct content;
    representative signatures equal the unsuppressed ones."""
    rows = [(i, "alpha beta gamma delta") for i in range(5)]
    rows.append((9, "alpha beta gamma epsilon"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    reps = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash(df, pre_dedup_exact=True).collect()
    }
    assert set(reps) == {0, 9}
    assert reps[0] == full[0] and reps[9] == full[9]


def test_connected_components_chain_and_islands(spark):
    """A~B~C~D chain collapses to one component (pairs alone would not);
    disjoint pairs stay separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_weighted_sample_ignores_nonpositive_weights(spark):
    from health_data_transformation_spark.operators.sampling import (
        weighted_hash_sample,
    )

    df = spark.createDataFrame(
        [(i, 0 if i % 2 else 10) for i in range(100)], "id long, w long"
    )
    out = weighted_hash_sample(df, "id", "w", k=60).collect()
    assert 0 < len(out) <= 50  # only the 50 positive-weight rows eligible
    assert all(r["w"] > 0 for r in out)
    assert all(r["priority"] > 0 for r in out)  # u+1 => never exactly 0


def test_grouped_median_string_key(spark):
    from health_data_transformation_spark.operators.profile import grouped_median

    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("b", 7)], "k string, v long"
    )
    out = {r["k"]: r["med2"] for r in grouped_median(df, "k", "v").collect()}
    assert out == {"a": 4, "b": 14}

    import pytest

    fdf = spark.createDataFrame([("a", 1.5)], "k string, v double")
    with pytest.raises(TypeError):
        grouped_median(fdf, "k", "v")


def test_grouped_hash_reservoir_exact_k_per_group(spark):
    from health_data_transformation_spark.operators.sampling import (
        grouped_hash_reservoir,
    )

    df = spark.createDataFrame(
        [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(2)],
        "id long, g string",
    )
    out = grouped_hash_reservoir(df, "id", "g", k=5).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r["id"])
    assert len(by_g["big"]) == 5
    assert sorted(by_g["small"]) == [1000, 1001]  # small stratum kept whole
    # deterministic across layouts: repartitioned input picks the same rows
    out2 = grouped_hash_reservoir(df.repartition(13), "id", "g", k=5).collect()
    assert {(r["g"], r["id"]) for r in out} == {(r["g"], r["id"]) for r in out2}


def test_token_shingles_windows(spark):
    import pyspark.sql.functions as F

    from health_data_transformation_spark.functions.text import token_shingles

    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    got = [r[0] for r in df.select(token_shingles("text", 3)).collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == []  # shorter than k -> empty, not null


def test_global_row_number_matches_window(spark):
    # 1000 rows with heavy ties on the primary key force cross-partition
    # tie splits; the id must still equal the single-window answer.
    df = spark.range(1000).select(
        (F.col("id") % 7).alias("grp"), F.col("id").alias("uid")
    )
    got = topk.global_row_number(
        df, [F.desc("grp"), F.col("uid")], out_col="rn", num_partitions=8
    )
    rows = sorted((r["rn"], r["grp"], r["uid"]) for r in got.collect())
    expected = sorted(
        (i + 1, g, u)
        for i, (g, u) in enumerate(
            sorted(((r["grp"], r["uid"]) for r in df.collect()),
                   key=lambda t: (-t[0], t[1]))
        )
    )
    assert rows == expected
    # dense: exactly 1..N once each
    assert [r[0] for r in rows] == list(range(1, 1001))


def test_grid_radius_pairs_matches_bruteforce(spark):
    import itertools
    from health_data_transformation_spark.operators import spatial

    # deterministic scatter incl. points straddling cell borders
    pts = [(i, (i * 9973) % 1000, (i * 6151) % 1000) for i in range(200)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    r = 150
    got = sorted(
        (row["id_a"], row["id_b"], row["d2"])
        for row in spatial.grid_radius_pairs(df, "id", "x", "y", r).collect()
    )
    want = sorted(
        (a[0], b[0], (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2)
        for a, b in itertools.combinations(pts, 2)
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= r * r
    )
    assert got == want
    assert len(want) > 0


def test_top_k_per_group_scalable_equals_window(spark):
    import pyspark.sql.functions as F

    from health_data_transformation_spark.operators.topk import (
        top_k_per_group,
        top_k_per_group_scalable,
    )

    df = spark.range(500).select(
        (F.col("id") % 7).alias("g"),
        ((F.col("id") * 37) % 113).alias("v"),
        F.col("id"),
    ).repartition(8)
    order = [F.desc("v"), F.asc("id")]
    a = top_k_per_group(df, ["g"], order, 5).select("g", "v", "id", "rank")
    b = top_k_per_group_scalable(df, ["g"], order, 5).select(
        "g", "v", "id", "rank"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_grouped_weighted_quantiles_matches_single_calls(spark):
    """The multi-quantile variant (one locate + one refine pass for ALL
    quantiles — the r7 re-execution fix for q165/q251) must agree with
    the per-quantile operator on every (group, label), including
    negative values (arithmetic-shift binning) and weighted rows."""
    from health_data_transformation_spark.operators.profile import (
        grouped_weighted_quantile,
        grouped_weighted_quantiles,
    )

    df = spark.range(4000).select(
        (F.col("id") % 5).alias("k"),
        (F.xxhash64("id") % 100000).alias("v"),  # mixed-sign values
        (F.col("id") % 3 + 1).alias("w"),
    )
    specs = {"p5": (1, 20), "p50": (1, 2), "p95": (19, 20)}
    multi = {
        (r["k"], r["q"]): (r["quantile_value"], r["total_weight"])
        for r in grouped_weighted_quantiles(df, "k", "v", "w", specs).collect()
    }
    assert len(multi) == 5 * 3
    for label, (qn, qd) in specs.items():
        single = {
            r["k"]: (r["quantile_value"], r["total_weight"])
            for r in grouped_weighted_quantile(df, "k", "v", "w", qn, qd).collect()
        }
        for k, sv in single.items():
            assert multi[(k, label)] == sv, (k, label)


def test_simhash_banded_pairs_max_bucket_caps_saturated_buckets(spark):
    """r7 §8.9: identical docs share every (band, value) bucket, so the
    cap must kill the boilerplate cluster's pairs while a small
    near-dup group survives (parity with the MinHash cap test)."""
    rows = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(6)]
    rows += [(10, "completely different corpus text entirely unrelated words"),
             (11, "completely different corpus text entirely unrelated words")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import pyspark.sql.functions as F
    from health_data_transformation_spark.functions import text as T

    d = df.withColumn("_sh3", F.array_distinct(T.token_shingles("text", 3)))
    sim = dedup.simhash(d, bits=32, set_col="_sh3")
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_banded_pairs(
            sim, bits=32, max_hamming=3, max_bucket=4
        ).collect()
    }
    assert all(a not in range(6) or b not in range(6) for a, b in capped)
    assert (10, 11) in capped
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_banded_pairs(sim, bits=32, max_hamming=3).collect()
    }
    assert {(a, b) for a in range(6) for b in range(a + 1, 6)} <= uncapped


def test_apply_pair_budget_keeps_smallest_groups(spark):
    """§8.10a: the budget cap keeps the largest set of SMALLEST groups
    whose summed C(g,2) fits the budget — group sizes 5/3/2 hold
    10/3/1 pairs, so budget 4 keeps sizes <=3 (1+3), budget 3 keeps
    only the size-2 group, budget 0 keeps nothing, and a budget
    covering everything is a no-op.  An absolute cap that every group
    outgrows returns nothing (the §8.10a vacuity); the budget form
    never goes vacuous while any group fits."""
    from health_data_transformation_spark.operators.similarity import (
        apply_pair_budget,
    )

    rows = (
        [(i, "a") for i in range(5)]
        + [(10 + i, "b") for i in range(3)]
        + [(20 + i, "c") for i in range(2)]
    )
    df = spark.createDataFrame(rows, "id long, k string")

    def kept(budget):
        return {
            r["k"] for r in apply_pair_budget(df, "k", budget).collect()
        }

    assert kept(14) == {"a", "b", "c"}
    assert kept(4) == {"b", "c"}
    assert kept(3) == {"c"}
    assert kept(0) == set()


def test_embedding_near_dup_pair_budget_not_vacuous(spark):
    """The §8.10a lesson wired in: with every block bigger than a
    fixed max_block the verifier returns nothing, but the same corpus
    under pair_budget still verifies the blocks that fit."""
    rows = [(i, 1, [1.0, float(i) * 1e-4]) for i in range(5)]
    rows += [(10, 2, [0.0, 1.0]), (11, 2, [0.01, 0.999])]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    kw = dict(block_col="label", min_cosine=0.99)
    assert (
        dedup.embedding_near_dup_pairs(df, max_block=1, **kw).collect() == []
    )
    budgeted = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs(
            df, pair_budget=1, **kw
        ).collect()
    }
    assert budgeted == {(10, 11)}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.embedding_near_dup_pairs(df, max_block=1, pair_budget=1, **kw)


def test_text_side_pair_budget_parity(spark):
    """§8.10b on the text generators: a boilerplate cluster saturates
    every band bucket; a tight pair budget drops those buckets (the
    small near-dup group survives) in BOTH the MinHash and SimHash
    banded paths, and composite (band, val) keys work.  Mutual
    exclusion with max_bucket raises."""
    import pyspark.sql.functions as F
    from health_data_transformation_spark.functions import text as T

    rows = [
        (i, "the quick brown fox jumps over the lazy dog again")
        for i in range(6)
    ]
    rows += [
        (10, "completely different corpus text entirely unrelated words"),
        (11, "completely different corpus text entirely unrelated words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_near_dup_pairs(
            df, min_jaccard=0.9, pair_budget=10
        ).collect()
    }
    assert (10, 11) in lsh
    assert all(a not in range(6) or b not in range(6) for a, b in lsh)

    d = df.withColumn("_sh3", F.array_distinct(T.token_shingles("text", 3)))
    sim = dedup.simhash(d, bits=32, set_col="_sh3")
    sh = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_banded_pairs(
            sim, bits=32, max_hamming=3, pair_budget=10
        ).collect()
    }
    assert (10, 11) in sh
    assert all(a not in range(6) or b not in range(6) for a, b in sh)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.lsh_near_dup_pairs(df, max_bucket=4, pair_budget=10).collect()
    with _pytest.raises(ValueError):
        dedup.simhash_banded_pairs(
            sim, bits=32, max_hamming=3, max_bucket=4, pair_budget=10
        ).collect()


def test_advice_r8_guards(spark):
    """ADVICE r8 defects, pinned: (1) embedding caps without block_col
    raise instead of silently no-opping into the unbounded quadratic
    join; (2) simhash pre_dedup_exact + set_col raises (not a strippable
    assert); (3) apply_pair_budget refuses a caller frame that already
    holds a reserved helper column; (4) lsh_near_dup_pairs can return
    the prepass groups table so full-corpus coverage needs ONE prepass."""
    import pytest as _pytest
    from health_data_transformation_spark.operators.similarity import (
        apply_pair_budget,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="block_col"):
        dedup.embedding_near_dup_pairs(vecs, pair_budget=10)
    with _pytest.raises(ValueError, match="block_col"):
        dedup.embedding_near_dup_pairs(vecs, max_block=10)

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
    )
    sets = docs.withColumn("s", F.split("text", " "))
    with _pytest.raises(ValueError, match="set_col"):
        dedup.simhash(sets, set_col="s", pre_dedup_exact=True)

    clashing = docs.withColumn("_gn", F.lit(1))
    with _pytest.raises(ValueError, match="_gn"):
        apply_pair_budget(clashing, "text", 10)

    with _pytest.raises(ValueError, match="pre_dedup_exact"):
        dedup.lsh_near_dup_pairs(docs, return_groups=True)
    pairs, groups = dedup.lsh_near_dup_pairs(
        docs, pre_dedup_exact=True, return_groups=True
    )
    g = {(r["keeper_id"], r["n_copies"]) for r in groups.collect()}
    assert g == {(1, 2), (3, 1)}
    assert pairs.columns == ["id_a", "id_b", "jaccard"]


def test_incremental_join_pair_budget(spark):
    """§8.11: lsh_incremental_matches(pair_budget=) derives the
    bucket keep-set from the PRODUCT volume (corpus rows x batch rows
    per bucket).  A boilerplate cluster's buckets exceed a tight
    budget and are dropped (its batch probe comes out admitted —
    same failure direction as max_bucket); a small near-dup group's
    buckets fit and its probe is rejected.  A generous budget keeps
    everything; max_bucket + pair_budget together raise."""
    import pytest as _pytest

    corpus_rows = [(i, "tpl alpha beta gamma delta epsilon zeta") for i in range(50)]
    corpus_rows += [(100, "rare one two three four five six"),
                    (101, "rare one two three four five six")]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1000, "tpl alpha beta gamma delta epsilon zeta"),
         (1001, "rare one two three four five six"),
         (1002, "unrelated totally novel content words here")],
        "doc_id long, text string",
    )

    def admitted(**kw):
        return {
            r["doc_id"]: r["admitted"]
            for r in dedup.lsh_incremental_matches(corpus, batch, **kw).collect()
        }

    tight = admitted(pair_budget=10)
    assert tight == {1000: True, 1001: False, 1002: True}
    wide = admitted(pair_budget=100_000)
    assert wide == {1000: False, 1001: False, 1002: True}
    assert wide == admitted()  # budget covering everything == uncapped
    with _pytest.raises(ValueError):
        dedup.lsh_incremental_matches(
            corpus, batch, max_bucket=5, pair_budget=10
        )


def test_lsh_store_path_equals_recompute(spark, tmp_path):
    """The persisted-store probe path (build_lsh_store +
    lsh_incremental_matches_stored) is result-identical to the
    recompute path for every knob combination — with and without
    probe_pushdown — across a parquet round-trip of the store.  Also
    pins the guards: pushdown without a bound raises (the collected
    candidate-id list must be bounded), and a frame that is not a
    store (wrong columns) is refused."""
    import pytest as _pytest

    corpus_rows = [(i, "tpl alpha beta gamma delta epsilon zeta")
                   for i in range(20)]
    corpus_rows += [(100, "rare one two three four five six"),
                    (101, "rare one two three four five six seven"),
                    (102, "lone unique text nothing shared here")]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1000, "tpl alpha beta gamma delta epsilon zeta"),
         (1001, "rare one two three four five six"),
         (1002, "unrelated totally novel content words here")],
        "doc_id long, text string",
    )

    buckets, tokens = dedup.build_lsh_store(corpus)
    buckets.sort("bucket").write.parquet(str(tmp_path / "buckets"))
    tokens.sort("id_c").write.parquet(str(tmp_path / "tokens"))
    sb = spark.read.parquet(str(tmp_path / "buckets"))
    st = spark.read.parquet(str(tmp_path / "tokens"))

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    for kw in (dict(max_bucket=5), dict(pair_budget=100), dict()):
        ref = canon(dedup.lsh_incremental_matches(corpus, batch, **kw))
        assert canon(
            dedup.lsh_incremental_matches_stored(sb, st, batch, **kw)
        ) == ref
        if kw:  # pushdown requires a bound
            assert canon(
                dedup.lsh_incremental_matches_stored(
                    sb, st, batch, probe_pushdown=True, **kw
                )
            ) == ref

    with _pytest.raises(ValueError, match="probe_pushdown"):
        dedup.lsh_incremental_matches_stored(
            sb, st, batch, probe_pushdown=True
        )
    with _pytest.raises(ValueError, match="build_lsh_store"):
        dedup.lsh_incremental_matches_stored(st, sb, batch, max_bucket=5)
    with _pytest.raises(ValueError, match="not both"):
        dedup.lsh_incremental_matches_stored(
            sb, st, batch, max_bucket=5, pair_budget=100
        )


def test_embedding_store_path_equals_recompute(spark, tmp_path):
    """The embedding-side persisted store (build_embedding_lsh_store +
    embedding_incremental_matches_stored) is result-identical to the
    recompute path (embedding_incremental_matches) for every knob
    combination, with and without probe_pushdown, across a parquet
    round-trip — the q332 pin, vector side.  Plus the pushdown-bound
    and store-schema guards."""
    import pytest as _pytest

    def vec(seed, bump=0.0):
        return [float((seed * 31 + i * 7) % 13) / 13.0 + (bump if i == 0 else 0.0)
                for i in range(64)]

    corpus_rows = [(i, vec(1)) for i in range(12)]          # dense cluster
    corpus_rows += [(100, vec(5)), (101, vec(5, 0.001)),    # small near-pair
                    (102, vec(9))]                          # loner
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<float>"
    )
    batch = spark.createDataFrame(
        [(1000, vec(1, 0.001)), (1001, vec(5, 0.002)), (1002, vec(11))],
        "vec_id long, embedding array<float>",
    )

    buckets, vectors = dedup.build_embedding_lsh_store(corpus)
    buckets.sort("lsh_sig").write.parquet(str(tmp_path / "buckets"))
    vectors.sort("id_c").write.parquet(str(tmp_path / "vectors"))
    sb = spark.read.parquet(str(tmp_path / "buckets"))
    sv = spark.read.parquet(str(tmp_path / "vectors"))

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    for kw in (dict(max_bucket=5), dict(pair_budget=40), dict()):
        ref = canon(dedup.embedding_incremental_matches(
            corpus, batch, min_cosine=0.9, **kw))
        assert canon(dedup.embedding_incremental_matches_stored(
            sb, sv, batch, min_cosine=0.9, **kw)) == ref
        if kw:
            assert canon(dedup.embedding_incremental_matches_stored(
                sb, sv, batch, min_cosine=0.9, probe_pushdown=True, **kw
            )) == ref

    with _pytest.raises(ValueError, match="probe_pushdown"):
        dedup.embedding_incremental_matches_stored(
            sb, sv, batch, probe_pushdown=True
        )
    with _pytest.raises(ValueError, match="build_embedding_lsh_store"):
        dedup.embedding_incremental_matches_stored(sv, sb, batch, max_bucket=5)
    with _pytest.raises(ValueError, match="not both"):
        dedup.embedding_incremental_matches_stored(
            sb, sv, batch, max_bucket=5, pair_budget=40
        )


def test_store_param_mismatch_fails_closed(spark, tmp_path):
    """ADVICE r9: build params are persisted with the store (column
    metadata, surviving a parquet round-trip) and a probe with
    different params RAISES instead of silently yielding empty
    collisions (which would admit every near-dup — fail open).
    Hand-built frames without the metadata stay accepted."""
    import pytest as _pytest

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "unrelated words entirely")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta")], "doc_id long, text string"
    )
    buckets, tokens = dedup.build_lsh_store(corpus)  # band_size=4, num_hashes=8
    buckets.write.parquet(str(tmp_path / "b"))
    tokens.write.parquet(str(tmp_path / "t"))
    sb = spark.read.parquet(str(tmp_path / "b"))
    st = spark.read.parquet(str(tmp_path / "t"))
    assert sb.schema["bucket"].metadata["hdt_band_size"] == 4  # survived parquet
    with _pytest.raises(ValueError, match="param mismatch"):
        dedup.lsh_incremental_matches_stored(sb, st, batch, band_size=2)
    with _pytest.raises(ValueError, match="param mismatch"):
        dedup.lsh_incremental_matches_stored(sb, st, batch, num_hashes=16)
    # matching params (the defaults) still run
    assert dedup.lsh_incremental_matches_stored(sb, st, batch).count() == 1
    # a hand-built store without metadata is accepted (documented
    # keep-params-with-the-store convention)
    bare = sb.select(F.col("bucket").alias("bucket", metadata={}), "id_c")
    assert bare.schema["bucket"].metadata == {}
    assert dedup.lsh_incremental_matches_stored(bare, st, batch).count() == 1

    # vector side
    def vec(seed):
        return [float((seed * 31 + i * 7) % 13) / 13.0 for i in range(64)]

    vcorpus = spark.createDataFrame(
        [(1, vec(1)), (2, vec(9))], "vec_id long, embedding array<float>"
    )
    vbatch = spark.createDataFrame(
        [(10, vec(1))], "vec_id long, embedding array<float>"
    )
    vb, vv = dedup.build_embedding_lsh_store(vcorpus)  # n_planes=8, dim=64
    vb.write.parquet(str(tmp_path / "vb"))
    svb = spark.read.parquet(str(tmp_path / "vb"))
    with _pytest.raises(ValueError, match="param mismatch"):
        dedup.embedding_incremental_matches_stored(svb, vv, vbatch, n_planes=4)
    with _pytest.raises(ValueError, match="param mismatch"):
        dedup.embedding_incremental_matches_stored(svb, vv, vbatch, dim=32)
    assert dedup.embedding_incremental_matches_stored(
        svb, vv, vbatch
    ).count() == 1


def test_derived_admission_cap_stamped_and_default(spark, tmp_path):
    """VERDICT r10 wrong #3: build_lsh_store(cap_budget=) stamps
    min(cap_budget // n_bands, max corpus bucket size) as
    hdt_admission_cap; the stamp survives parquet; the stored probe
    reads it BY DEFAULT; and where a constant cap fails open (drops
    the saturated bucket -> falsely admits its near-dup), the derived
    cap keeps it and rejects."""
    # 12 exact copies of one text saturate its buckets far above a
    # constant cap of 5; the probe is a true near-dup of that text
    corpus = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(12)]
        + [(100, "totally different content words")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1000, "alpha beta gamma delta")], "doc_id long, text string"
    )
    buckets, tokens = dedup.build_lsh_store(
        corpus, cap_budget=dedup.ADMISSION_CAP_BUDGET
    )
    buckets.sort("bucket").write.parquet(str(tmp_path / "b"))
    tokens.sort("id_c").write.parquet(str(tmp_path / "t"))
    sb = spark.read.parquet(str(tmp_path / "b"))
    st = spark.read.parquet(str(tmp_path / "t"))

    meta = sb.schema["bucket"].metadata
    # n_bands = 8 // 4 = 2; max bucket size = 12 (the saturated copies)
    assert meta["hdt_admission_cap"] == min(
        dedup.ADMISSION_CAP_BUDGET // 2, 12
    ) == 12
    assert meta["hdt_cap_budget"] == dedup.ADMISSION_CAP_BUDGET

    def verdicts(df, id_field="doc_id"):
        return {r[id_field]: r["admitted"] for r in df.collect()}

    # default (STORED sentinel) -> derived cap 12 -> bucket kept ->
    # the near-dup is REJECTED
    assert verdicts(
        dedup.lsh_incremental_matches_stored(sb, st, batch)
    ) == {1000: False}
    # the constant-cap failure mode, for contrast: cap 5 drops the
    # saturated bucket and the same probe sails through (fails OPEN)
    assert verdicts(
        dedup.lsh_incremental_matches_stored(sb, st, batch, max_bucket=5)
    ) == {1000: True}
    # explicit None stays uncapped; pair_budget alone must not trip
    # the mutual-exclusion guard despite the sentinel default
    assert verdicts(
        dedup.lsh_incremental_matches_stored(sb, st, batch, max_bucket=None)
    ) == {1000: False}
    assert verdicts(
        dedup.lsh_incremental_matches_stored(
            sb, st, batch, pair_budget=1_000_000
        )
    ) == {1000: False}

    # embedding side: n_bands = 1, stamp = min(budget, max sig bucket)
    def vec(seed):
        return [float((seed * 31 + i * 7) % 13) / 13.0 for i in range(64)]

    vcorpus = spark.createDataFrame(
        [(i, vec(2)) for i in range(6)] + [(50, vec(9))],
        "vec_id long, embedding array<double>",
    )
    vb, vv = dedup.build_embedding_lsh_store(vcorpus, cap_budget=1000)
    vmeta = vb.schema["lsh_sig"].metadata
    assert vmeta["hdt_admission_cap"] == min(1000, 6) == 6
    vbatch = spark.createDataFrame(
        [(1000, vec(2))], "vec_id long, embedding array<double>"
    )
    assert verdicts(
        dedup.embedding_incremental_matches_stored(
            vb, vv, vbatch, min_cosine=0.99
        ),
        id_field="vec_id",
    ) == {1000: False}


def test_pushdown_semi_join_fallback(spark, tmp_path, monkeypatch):
    """ADVICE r9: above PUSHDOWN_IN_LIMIT collected keys, probe
    pushdown switches from a literal IN filter to a broadcast
    semi-join — results identical on both sides of the limit (forced
    by pinning the limit to 0)."""
    corpus = spark.createDataFrame(
        [(i, f"shared tokens alpha beta gamma id{i % 3}") for i in range(9)]
        + [(100, "totally different content words")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1000, "shared tokens alpha beta gamma id0"),
         (1001, "novel text with no overlap at all")],
        "doc_id long, text string",
    )
    buckets, tokens = dedup.build_lsh_store(corpus)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    ref = canon(dedup.lsh_incremental_matches_stored(
        buckets, tokens, batch, max_bucket=10, probe_pushdown=True))
    monkeypatch.setattr(dedup, "PUSHDOWN_IN_LIMIT", 0)
    assert canon(dedup.lsh_incremental_matches_stored(
        buckets, tokens, batch, max_bucket=10, probe_pushdown=True)) == ref


def test_stored_cap_staleness_guard(spark, tmp_path):
    """VERDICT r11 wrong #2: the stamped admission cap gets a
    staleness contract.  Builders stamp hdt_cap_rows (store size at
    derivation) beside hdt_admission_cap; the stored-cap probes fail
    CLOSED once the live store outgrows the stamp by
    CAP_STALENESS_FACTOR — a frozen cap on a grown corpus is exactly
    the 8.11b constant-cap failure the derivation exists to prevent.
    Growth within the factor keeps probing; explicit max_bucket /
    pair_budget bypass the sentinel and therefore the guard; the
    guard never fires on pre-guard (unstamped-rows) stores."""
    import pytest as _pytest

    corpus_rows = [(i, "tpl alpha beta gamma delta epsilon zeta")
                   for i in range(20)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1000, "tpl alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )

    buckets, tokens = dedup.build_lsh_store(corpus, cap_budget=200)
    meta = dict(buckets.schema["bucket"].metadata or {})
    assert meta.get("hdt_admission_cap") is not None
    assert meta.get("hdt_cap_rows", 0) > 0

    # the stamp survives the parquet round-trip and a fresh store probes
    buckets.sort("bucket").write.parquet(str(tmp_path / "b"))
    tokens.sort("id_c").write.parquet(str(tmp_path / "t"))
    sb = spark.read.parquet(str(tmp_path / "b"))
    st = spark.read.parquet(str(tmp_path / "t"))
    assert dict(sb.schema["bucket"].metadata or {}).get("hdt_cap_rows") \
        == meta["hdt_cap_rows"]
    assert dedup.lsh_incremental_matches_stored(sb, st, batch).count() >= 0

    # growth ABOVE the factor (3x): the probe refuses with the rebuild
    # instruction (simulates appended deliveries on a stamped store —
    # original footers keep the stamp, row count grows)
    grown = sb.unionByName(sb).unionByName(sb).withMetadata("bucket", meta)
    with _pytest.raises(ValueError, match="stale admission cap"):
        dedup.lsh_incremental_matches_stored(grown, st, batch)

    # growth AT the factor (2x exactly): still within contract
    at_factor = sb.unionByName(sb).withMetadata("bucket", meta)
    assert dedup.lsh_incremental_matches_stored(
        at_factor, st, batch
    ).count() >= 0

    # explicit bounds bypass the sentinel, so the guard never fires
    assert dedup.lsh_incremental_matches_stored(
        grown, st, batch, max_bucket=5
    ).count() >= 0
    assert dedup.lsh_incremental_matches_stored(
        grown, st, batch, pair_budget=100
    ).count() >= 0

    # pre-guard store (cap stamped, no row stamp): old behavior
    legacy_meta = {k: v for k, v in meta.items() if k != "hdt_cap_rows"}
    legacy = grown.withMetadata("bucket", legacy_meta)
    assert dedup.lsh_incremental_matches_stored(
        legacy, st, batch
    ).count() >= 0

    # the embedding-store guard shares _resolve_stored_cap: stamp+trip
    import numpy as _np

    rng = _np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(12)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    vb, vv = dedup.build_embedding_lsh_store(
        emb, n_planes=4, dim=8, cap_budget=64
    )
    vmeta = dict(vb.schema["lsh_sig"].metadata or {})
    assert vmeta.get("hdt_cap_rows", 0) > 0
    vgrown = vb.unionByName(vb).unionByName(vb).withMetadata(
        "lsh_sig", vmeta
    )
    with _pytest.raises(ValueError, match="stale admission cap"):
        dedup.embedding_incremental_matches_stored(
            vgrown, vv, emb.limit(2), n_planes=4, dim=8
        )


def test_coarse_scan_width_gates_on_plan_shape(spark):
    """r13: coarse_scan_width (the factored-out widen_coarse_scan
    guard) returns the reduce width for a coarse scan-rooted frame,
    and 0 — degrading every advisory repartition to a no-op — for
    exchange-bearing plans (ADVICE r12 #1: the contract is enforced
    inside the guard, not at call sites)."""
    from health_data_transformation_spark.operators.skew import (
        coarse_scan_width,
        widen_coarse_scan,
    )

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    narrow = spark.range(1000).coalesce(1).withColumn("k", F.col("id") % 7)
    assert coarse_scan_width(narrow) == width

    # aggregate-rooted: the df.rdd probe would materialize a stage —
    # must gate to 0 / no-op
    agged = narrow.groupBy("k").count()
    assert coarse_scan_width(agged) == 0
    assert widen_coarse_scan(agged, "k") is agged

    # shuffle-repartitioned: also exchange-bearing
    shuffled = spark.range(1000).repartition(4, "id")
    assert coarse_scan_width(shuffled) == 0


def test_widen_coarse_scan_min_bytes_floor(spark, tmp_path):
    """r13 (VERDICT r12 task #6): the opt-in min_bytes floor keeps a
    below-threshold scan narrow (the sf0.1 regime where the widen
    measured a loss) and widens once the plan-stats estimate reaches
    the floor (the measured 16x crossover regime)."""
    from health_data_transformation_spark.operators.skew import (
        plan_size_bytes,
        widen_coarse_scan,
    )

    p = str(tmp_path / "t.parquet")
    spark.range(1000).selectExpr(
        "id", "repeat('x', 100) AS text"
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    est = plan_size_bytes(df)
    assert est > 0

    # floor above the estimate: stays narrow (no exchange in the plan)
    narrow = widen_coarse_scan(df, "id", min_bytes=est * 10)
    assert "Repartition" not in narrow._jdf.queryExecution().optimizedPlan().toString()

    # floor at/below the estimate: widens exactly like the floorless form
    wide = widen_coarse_scan(df, "id", min_bytes=est)
    assert "RepartitionByExpression" in (
        wide._jdf.queryExecution().optimizedPlan().toString()
    )


def test_plan_size_bytes_default_size_fallback_is_unavailable(spark, tmp_path):
    """ADVICE r13: an RDD-backed frame has no statistics — Catalyst
    reports the spark.sql.defaultSizeInBytes fallback, which a derived
    projection merely scales.  plan_size_bytes must call both unknown
    (-1) so the min_bytes floor keeps them narrow, while a file scan
    keeps its file-derived estimate."""
    from health_data_transformation_spark.operators.skew import (
        plan_size_bytes,
        widen_coarse_scan,
    )

    rdd_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(i, "x" * 10) for i in range(8)], 1),
        "id LONG, text STRING",
    )
    assert plan_size_bytes(rdd_df) == -1
    assert plan_size_bytes(rdd_df.select("id").filter("id > 2")) == -1
    narrow = widen_coarse_scan(rdd_df, "id", min_bytes=1)
    assert "Repartition" not in narrow._jdf.queryExecution().optimizedPlan().toString()

    p = str(tmp_path / "t.parquet")
    spark.range(100).write.parquet(p)
    assert 0 < plan_size_bytes(spark.read.parquet(p)) < 10**9


def test_overlap_actions_order_and_errors(spark):
    """r13: overlap_actions returns results in submission order and
    propagates the first exception — identical failure semantics to
    the sequential form it replaces."""
    import pytest as _pytest

    from health_data_transformation_spark.functions.actions import (
        overlap_actions,
    )

    out = overlap_actions([lambda: 1, lambda: 2, lambda: 3])
    assert out == [1, 2, 3]
    with _pytest.raises(RuntimeError, match="boom"):
        overlap_actions(
            [lambda: 1, lambda: (_ for _ in ()).throw(RuntimeError("boom"))]
        )
