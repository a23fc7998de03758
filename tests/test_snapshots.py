"""SnapshotTable: versioned commits, time travel, conflict detection."""

from __future__ import annotations

import os

import pytest

from health_data_transformation_spark.snapshots import (
    SnapshotConflict,
    SnapshotTable,
)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_overwrite_upsert_and_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    assert t.commit_overwrite(df) == 1
    assert t.commit_append(
        spark.createDataFrame([(3, "c")], "k int, v string")
    ) == 2
    assert t.commit_upsert(
        spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string"),
        keys=["k"],
    ) == 3

    assert rows(t.read(version=1)) == [(1, "a"), (2, "b")]
    assert rows(t.read(version=2)) == [(1, "a"), (2, "b"), (3, "c")]
    assert rows(t.read(version=3)) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    assert rows(t.read()) == rows(t.read(version=3))
    assert [m["op"] for m in t.history()] == ["overwrite", "append", "upsert"]


def test_old_versions_survive_overwrite(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.commit_overwrite(spark.createDataFrame([(9, "z")], "k int, v string"))
    assert rows(t.read(version=1)) == [(1, "a")]
    assert rows(t.read(version=2)) == [(9, "z")]


def test_conflict_on_concurrent_publish(spark, tmp_path):
    root = str(tmp_path / "t")
    t1 = SnapshotTable(spark, root)
    t1.commit_overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    # a racing committer published v2 first
    t2 = SnapshotTable(spark, root)
    t2.commit_append(spark.createDataFrame([(2, "b")], "k int, v string"))
    with pytest.raises(SnapshotConflict):
        t1._publish(2, ["bogus"], "append")


def test_publish_race_loser_conflicts_without_clobber(
    spark, tmp_path, monkeypatch
):
    """The TOCTOU race the exists() fast path cannot close: both
    committers pass the pre-check, then both attempt the visibility
    flip.  The flip is os.link (fails EEXIST) — a POSIX rename would
    silently REPLACE the winner's manifest.  The loser must get
    SnapshotConflict and the winner's manifest must remain
    byte-identical."""
    import health_data_transformation_spark.snapshots as S

    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.commit_overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.commit_append(spark.createDataFrame([(2, "b")], "k int, v string"))
    winner = t._read_manifest(2)

    # simulate the loser having passed the pre-check before the winner
    # published: blind the fast path for the manifest file only
    real_exists = S.os.path.exists
    v2 = t._manifest_path(2)
    monkeypatch.setattr(
        S.os.path, "exists", lambda p: False if p == v2 else real_exists(p)
    )
    with pytest.raises(SnapshotConflict):
        t._publish(2, ["bogus"], "append")
    monkeypatch.undo()
    assert t._read_manifest(2) == winner  # not clobbered
    assert not [
        f for f in S.os.listdir(root) if ".tmp-" in f
    ]  # loser's tmp cleaned up


def test_publish_environmental_oserror_reraises(spark, tmp_path, monkeypatch):
    """ADVICE r9: a non-EEXIST OSError from the link flip (filesystem
    without hard-link support) is a PERMANENT environmental failure —
    it must re-raise as-is, not masquerade as a retryable
    SnapshotConflict (which would spin retry loops forever)."""
    import health_data_transformation_spark.snapshots as S

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))

    def no_links(src, dst):
        raise PermissionError("hard links not supported on this mount")

    monkeypatch.setattr(S.os, "link", no_links)
    with pytest.raises(PermissionError):
        t.commit_append(spark.createDataFrame([(2, "b")], "k int, v string"))
    # and no half-published manifest or stranded tmp remains
    assert t.current_version() == 1
    assert not [f for f in os.listdir(str(tmp_path / "t")) if ".tmp-" in f]


def test_publish_ambiguous_link_success_is_not_conflict(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9: an NFS-class retransmit can report failure for a link
    that actually landed.  When the target exists AND is our tmp's
    inode, publish must report SUCCESS, not conflict/error."""
    import health_data_transformation_spark.snapshots as S

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))

    real_link = S.os.link

    def link_then_lie(src, dst):
        real_link(src, dst)  # the link actually lands...
        raise FileExistsError(dst)  # ...but the reply reports EEXIST

    monkeypatch.setattr(S.os, "link", link_then_lie)
    v = t.commit_append(spark.createDataFrame([(2, "b")], "k int, v string"))
    monkeypatch.undo()
    assert v == 2
    assert rows(t.read(version=2)) == [(1, "a"), (2, "b")]
    # same for a generic OSError report after a successful link
    def link_then_err(src, dst):
        real_link(src, dst)
        raise OSError("retransmit timeout")

    monkeypatch.setattr(S.os, "link", link_then_err)
    v = t.commit_append(spark.createDataFrame([(3, "c")], "k int, v string"))
    assert v == 3


def test_commit_delete_and_time_travel(spark, tmp_path):
    """DELETE WHERE: the new version hides matching rows, older
    versions still time-travel to them, vacuum() past retention
    physically erases (the right-to-be-forgotten two-step)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k int, v string"
        )
    )
    v = t.commit_delete("k % 2 = 0")
    assert v == 2
    assert rows(t.read()) == [(1, "a"), (3, "c")]
    assert rows(t.read(version=1)) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    assert [m["op"] for m in t.history()] == ["overwrite", "delete"]

    # Column predicate form
    import pyspark.sql.functions as F

    t.commit_delete(F.col("k") == 3)
    assert rows(t.read()) == [(1, "a")]

    # physical erasure: vacuum to retention 1 removes v1's files and
    # its manifest — the deleted rows are now unreachable
    t.vacuum(retain_last=1)
    with pytest.raises(ValueError, match="retention"):
        t.read(version=1)

    # guards: empty table, non-predicate types
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    with pytest.raises(ValueError, match="no snapshots"):
        t2.commit_delete("1 = 1")
    with pytest.raises(TypeError, match="predicate"):
        t.commit_delete(42)


def test_commit_delete_null_predicate_rows_survive(spark, tmp_path):
    """ADVICE r10 #2: DELETE WHERE removes only predicate-TRUE rows —
    rows where the predicate evaluates to NULL (nullable column) must
    SURVIVE, matching SQL/Delta semantics, not be dropped by
    three-valued ~cond."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_overwrite(
        spark.createDataFrame(
            [(1, "bad"), (2, None), (3, "ok")], "k int, tag string"
        )
    )
    t.commit_delete("tag = 'bad'")
    # row 2's predicate is NULL = 'bad' -> NULL: it must survive
    assert rows(t.read()) == [(2, None), (3, "ok")]

    # same through the Column form
    import pyspark.sql.functions as F

    t.commit_delete(F.col("tag") == "ok")
    assert rows(t.read()) == [(2, None)]


def _pt_table(spark, root):
    """3-partition fixture: partitions 'a' (3 rows), 'b' (2), 'c' (1)."""
    t = SnapshotTable(spark, root, partition_by="p")
    t.commit_overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "a", 30),
             (4, "b", 40), (5, "b", 50), (6, "c", 60)],
            "k int, p string, x int",
        )
    )
    return t


def test_partitioned_delete_rewrites_only_touched(spark, tmp_path):
    """VERDICT r10 missing #1: DELETE on a partitioned table rewrites
    ONLY partitions containing matches; untouched partitions' data
    directories are REUSED verbatim in the new manifest."""
    t = _pt_table(spark, str(tmp_path / "t"))
    m1 = t._read_manifest(1)
    assert set(m1["partitions"]) == {"a", "b", "c"}
    assert m1["partition_by"] == "p"

    # partial delete inside partition 'a' only
    v = t.commit_delete("p = 'a' AND k >= 2")
    assert v == 2
    assert rows(t.read()) == [
        (1, "a", 10), (4, "b", 40), (5, "b", 50), (6, "c", 60)
    ]
    assert rows(t.read(version=1))[0] == (1, "a", 10)  # time travel intact
    m2 = t._read_manifest(2)
    # untouched partitions reuse version 1's directories EXACTLY
    assert m2["partitions"]["b"] == m1["partitions"]["b"]
    assert m2["partitions"]["c"] == m1["partitions"]["c"]
    # the touched partition re-landed in a NEW commit directory
    assert m2["partitions"]["a"] != m1["partitions"]["a"]

    # a fully-deleted partition disappears from the map
    import pyspark.sql.functions as F

    t.commit_delete(F.col("p") == "c")
    m3 = t._read_manifest(3)
    assert "c" not in m3["partitions"]
    assert m3["partitions"]["b"] == m1["partitions"]["b"]

    # a no-match delete publishes a content-identical version with
    # ZERO data written (all dirs reused)
    t.commit_delete("k = 999")
    m4 = t._read_manifest(4)
    assert m4["partitions"] == m3["partitions"]
    assert rows(t.read(version=4)) == rows(t.read(version=3))


def test_partitioned_upsert_rewrites_only_touched(spark, tmp_path):
    t = _pt_table(spark, str(tmp_path / "t"))
    m1 = t._read_manifest(1)

    # upsert touching partitions 'a' (replace k=2) and 'd' (new)
    batch = spark.createDataFrame(
        [(2, "a", 99), (7, "d", 70)], "k int, p string, x int"
    )
    t.commit_upsert(batch, keys=["k", "p"])
    assert rows(t.read()) == [
        (1, "a", 10), (2, "a", 99), (3, "a", 30),
        (4, "b", 40), (5, "b", 50), (6, "c", 60), (7, "d", 70),
    ]
    m2 = t._read_manifest(2)
    assert m2["partitions"]["b"] == m1["partitions"]["b"]  # reused
    assert m2["partitions"]["c"] == m1["partitions"]["c"]  # reused
    assert m2["partitions"]["a"] != m1["partitions"]["a"]  # rewritten
    assert "d" in m2["partitions"]                         # new partition

    # the partition column must be among the match keys
    with pytest.raises(ValueError, match="partition column"):
        t.commit_upsert(batch, keys=["k"])


def test_partitioned_append_and_vacuum_leaf_gc(spark, tmp_path):
    """Append accumulates per-partition dirs; vacuum collects at LEAF
    granularity — a commit directory partially reused by retained
    versions loses only its unreferenced leaves."""
    t = _pt_table(spark, str(tmp_path / "t"))
    m1 = t._read_manifest(1)
    t.commit_append(
        spark.createDataFrame([(8, "a", 80)], "k int, p string, x int")
    )
    m2 = t._read_manifest(2)
    assert m2["partitions"]["a"][0] == m1["partitions"]["a"][0]  # old dir kept
    assert len(m2["partitions"]["a"]) == 2

    # delete touching 'a' only, then vacuum to retention 1: v1/v2's
    # 'a' leaves are unreferenced (v3 rewrote them), but 'b'/'c'
    # leaves are still REUSED by v3 and must survive inside the same
    # commit directory
    t.commit_delete("p = 'a' AND k = 8")
    removed = t.vacuum(retain_last=1)
    m3 = t._read_manifest(3)
    import os

    for leaf in removed:
        assert not os.path.exists(leaf)
    for dirs in m3["partitions"].values():
        for d in dirs:
            assert os.path.exists(d)
    # the v1 commit dir survives (its b/c leaves are referenced) but
    # its 'a' leaf is gone
    assert any(d.endswith("_pt=b") for d in m3["partitions"]["b"])
    assert m1["partitions"]["a"][0] in removed
    assert rows(t.read()) == [
        (1, "a", 10), (2, "a", 20), (3, "a", 30),
        (4, "b", 40), (5, "b", 50), (6, "c", 60),
    ]


def test_partitioned_compact_and_schema_evolution(spark, tmp_path):
    """compact() on a partitioned table rewrites per partition and
    stays content-identical; additive schema evolution composes with
    partition-scoped appends (old files read NULL in new columns)."""
    t = _pt_table(spark, str(tmp_path / "t"))
    t.commit_append(
        spark.createDataFrame([(8, "a", 80)], "k int, p string, x int")
    )
    before = rows(t.read())
    v = t.compact()
    m = t._read_manifest(v)
    assert rows(t.read()) == before
    assert set(m["partitions"]) == {"a", "b", "c"}
    assert all(len(dirs) == 1 for dirs in m["partitions"].values())

    # additive evolution through a partitioned append
    t.commit_append(
        spark.createDataFrame(
            [(9, "b", 90, "tagged")], "k int, p string, x int, tag string"
        ),
        merge_schema=True,
    )
    got = {r["k"]: r["tag"] for r in t.read().collect()}
    assert got[9] == "tagged" and got[1] is None


def test_partitioned_reopen_and_null_guard(spark, tmp_path):
    t = _pt_table(spark, str(tmp_path / "t"))
    # reopening with None adopts the recorded partition column
    t2 = SnapshotTable(spark, str(tmp_path / "t"))
    assert t2.partition_by == "p"
    # a different column fails loudly
    with pytest.raises(ValueError, match="partitioned by"):
        SnapshotTable(spark, str(tmp_path / "t"), partition_by="k")
    # NULL partition keys are rejected
    with pytest.raises(ValueError, match="NULL"):
        t.commit_append(
            spark.createDataFrame(
                [(9, None, 90)], "k int, p string, x int"
            )
        )


def test_read_empty_table_raises(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError):
        t.read()
    assert t.current_version() == 0
    assert not os.path.exists(str(tmp_path / "t"))  # opening makes no dir


def test_upsert_as_first_commit_is_overwrite(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    v = t.commit_upsert(
        spark.createDataFrame([(1, "a")], "k int, v string"), keys=["k"]
    )
    assert v == 1
    assert rows(t.read()) == [(1, "a")]
    assert [m["op"] for m in t.history()] == ["overwrite"]


def test_schema_evolution_additive_append(spark, tmp_path):
    from health_data_transformation_spark.snapshots import (
        SchemaEvolutionError,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    )
    # widened batch adds `q`; old rows must read q as NULL
    t.commit_append(
        spark.createDataFrame([(3, "c", 30)], "k int, v string, q int"),
        merge_schema=True,
    )
    assert t.read().columns == ["k", "v", "q"]
    assert rows(t.read()) == [(1, "a", None), (2, "b", None), (3, "c", 30)]
    # time travel keeps the ORIGINAL schema for the original version
    assert t.read(version=1).columns == ["k", "v"]

    # narrow batch (omits v) is additive too: v null-fills via upsert
    t.commit_upsert(
        spark.createDataFrame([(1, 10)], "k int, q int"), keys=["k"]
    )
    got = {r["k"]: (r["v"], r["q"]) for r in t.read().collect()}
    assert got[1] == (None, 10) and got[3] == ("c", 30)

    # un-flagged append with differing columns is rejected
    with pytest.raises(SchemaEvolutionError):
        t.commit_append(
            spark.createDataFrame([(5, 6)], "k int, w int")
        )
    # type change is never additive
    with pytest.raises(SchemaEvolutionError):
        t.commit_append(
            spark.createDataFrame([("x", "y")], "k string, v string"),
            merge_schema=True,
        )


def test_compact_and_vacuum(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    for i in range(2, 5):
        t.commit_append(
            spark.createDataFrame([(i, chr(96 + i))], "k int, v string")
        )
    before = rows(t.read())
    data_root = os.path.join(str(tmp_path / "t"), "data")
    assert len(os.listdir(data_root)) == 4  # one dir per commit

    assert t.compact() == 5
    assert rows(t.read()) == before          # content identical
    assert t.read(version=4).columns == ["k", "v"]  # history intact

    removed = t.vacuum(retain_last=1)
    assert len(removed) == 4                 # pre-compaction dirs GC'd
    assert len(os.listdir(data_root)) == 1
    assert rows(t.read()) == before          # retained snapshot unharmed
    with pytest.raises(ValueError):
        t.read(version=2)                    # beyond the horizon: loud
    assert [m["op"] for m in t.history()] == ["compact"]


def test_vacuum_collects_orphans_from_aborted_commits(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit_overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    # simulate a loser committer: data written, publish lost the race
    t._write_data(
        spark.createDataFrame([(9, "z")], "k int, v string"), 2, "orphan"
    )
    removed = t.vacuum(retain_last=1)
    assert len(removed) == 1 and "orphan" in removed[0]
    assert rows(t.read()) == [(1, "a")]


def test_partition_key_prevalidation_no_orphan_write(spark, tmp_path):
    """ADVICE r11 #2: bad partition keys (NULL *or empty string* —
    Spark writes both as the Hive default partition) are rejected
    before anything is published, the written data directory is
    removed (no orphan), and the error names both cases."""
    t = _pt_table(spark, str(tmp_path / "t"))
    data_root = os.path.join(str(tmp_path / "t"), "data")
    dirs_before = sorted(os.listdir(data_root))

    with pytest.raises(ValueError, match="NULL, empty-string"):
        t.commit_append(
            spark.createDataFrame([(9, "", 90)], "k int, p string, x int")
        )
    with pytest.raises(ValueError, match="NULL, empty-string"):
        t.commit_append(
            spark.createDataFrame([(9, None, 90)], "k int, p string, x int")
        )
    # the failed commits wrote NOTHING (no orphan dir until vacuum)
    assert sorted(os.listdir(data_root)) == dirs_before
    assert t.current_version() == 1


def test_partitioned_upsert_key_contract_on_first_commit(spark, tmp_path):
    """ADVICE r11 #3: the partition-column-among-keys contract is
    enforced on the FIRST commit too, not only from version 2 on."""
    t = SnapshotTable(spark, str(tmp_path / "t"), partition_by="p")
    df = spark.createDataFrame([(1, "a", 10)], "k int, p string, x int")
    with pytest.raises(ValueError, match="among the match keys"):
        t.commit_upsert(df, keys=["k"])
    assert t.current_version() == 0  # nothing committed
    # correct keys succeed as overwrite
    assert t.commit_upsert(df, keys=["k", "p"]) == 1


def _pt2_table(spark, root):
    """Two-level fixture (VERDICT r11 task #3): date x source layout —
    2 dates x 2 sources = 4 leaves, keyed 'd1/web' etc."""
    t = SnapshotTable(spark, root, partition_by=["d", "src"])
    t.commit_overwrite(
        spark.createDataFrame(
            [(1, "d1", "web", 10), (2, "d1", "web", 20),
             (3, "d1", "api", 30),
             (4, "d2", "web", 40),
             (5, "d2", "api", 50), (6, "d2", "api", 60)],
            "k int, d string, src string, x int",
        )
    )
    return t


def test_two_level_partitioned_delete_subtree_reuse(spark, tmp_path):
    """Two-level q340 twin: delete inside ONE leaf rewrites only that
    leaf; the sibling leaf under the SAME first-level value AND every
    leaf under the other first-level value are reused verbatim."""
    t = _pt2_table(spark, str(tmp_path / "t"))
    m1 = t._read_manifest(1)
    assert set(m1["partitions"]) == {"d1/web", "d1/api", "d2/web", "d2/api"}
    assert m1["partition_by"] == ["d", "src"]
    # leaves are nested hive dirs
    assert "/_pt0=" in m1["partitions"]["d1/web"][0]
    assert "/_pt1=web" in m1["partitions"]["d1/web"][0]

    v = t.commit_delete("d = 'd1' AND src = 'web' AND k >= 2")
    assert v == 2
    assert rows(t.read()) == [
        (1, "d1", "web", 10), (3, "d1", "api", 30),
        (4, "d2", "web", 40), (5, "d2", "api", 50), (6, "d2", "api", 60),
    ]
    m2 = t._read_manifest(2)
    # sibling leaf under d1 reused (level-2 granularity)...
    assert m2["partitions"]["d1/api"] == m1["partitions"]["d1/api"]
    # ...entire d2 subtree reused (level-1 granularity)...
    assert m2["partitions"]["d2/web"] == m1["partitions"]["d2/web"]
    assert m2["partitions"]["d2/api"] == m1["partitions"]["d2/api"]
    # ...and only the touched leaf re-landed
    assert m2["partitions"]["d1/web"] != m1["partitions"]["d1/web"]

    # fully-deleted leaf disappears from the map
    t.commit_delete("d = 'd2' AND src = 'api'")
    m3 = t._read_manifest(3)
    assert "d2/api" not in m3["partitions"]
    assert m3["partitions"]["d2/web"] == m1["partitions"]["d2/web"]


def test_two_level_partitioned_upsert_and_key_contract(spark, tmp_path):
    t = _pt2_table(spark, str(tmp_path / "t"))
    m1 = t._read_manifest(1)
    # EVERY level must be among the match keys
    df = spark.createDataFrame(
        [(2, "d1", "web", 21)], "k int, d string, src string, x int"
    )
    with pytest.raises(ValueError, match="'src'"):
        t.commit_upsert(df, keys=["k", "d"])
    # update one row + insert one row, both in the d1/web leaf
    batch = spark.createDataFrame(
        [(2, "d1", "web", 21), (7, "d1", "web", 70)],
        "k int, d string, src string, x int",
    )
    assert t.commit_upsert(batch, keys=["k", "d", "src"]) == 2
    assert rows(t.read()) == [
        (1, "d1", "web", 10), (2, "d1", "web", 21), (3, "d1", "api", 30),
        (4, "d2", "web", 40), (5, "d2", "api", 50), (6, "d2", "api", 60),
        (7, "d1", "web", 70),
    ]
    m2 = t._read_manifest(2)
    for k in ("d1/api", "d2/web", "d2/api"):
        assert m2["partitions"][k] == m1["partitions"][k]
    assert m2["partitions"]["d1/web"] != m1["partitions"]["d1/web"]


def test_two_level_vacuum_leaf_gc_and_reopen(spark, tmp_path):
    """Vacuum collects at LEAF granularity inside a nested commit dir
    (the partially-reused commit loses only unreferenced leaves, and
    emptied intermediate _pt0= dirs are pruned); reopen adopts the
    recorded column LIST and a different spec fails."""
    t = _pt2_table(spark, str(tmp_path / "t"))
    m1 = t._read_manifest(1)
    commit1_dir = os.path.dirname(os.path.dirname(m1["partitions"]["d1/web"][0]))

    t.commit_delete("d = 'd1'")  # drops both d1 leaves, reuses d2 subtree
    before = rows(t.read())
    removed = t.vacuum(retain_last=1)
    # the d1 leaves from commit 1 are gone; d2 leaves survive IN THE
    # SAME commit dir because version 2 still references them
    assert any("_pt1=web" in r and "_pt0=d1" in r for r in removed)
    assert any("_pt1=api" in r and "_pt0=d1" in r for r in removed)
    assert os.path.isdir(commit1_dir)
    assert not os.path.exists(os.path.join(commit1_dir, "_pt0=d1"))
    assert rows(t.read()) == before

    # reopen: None adopts the list; a different spec fails loudly
    t2 = SnapshotTable(spark, str(tmp_path / "t"))
    assert t2.partition_by == ["d", "src"]
    with pytest.raises(ValueError, match="partitioned by"):
        SnapshotTable(spark, str(tmp_path / "t"), partition_by="d")
    with pytest.raises(ValueError, match="partitioned by"):
        SnapshotTable(spark, str(tmp_path / "t"), partition_by=["src", "d"])

    # per-level bad-key guard: NULL at level 2, '/' at level 1
    with pytest.raises(ValueError, match="NULL, empty-string"):
        t.commit_append(
            spark.createDataFrame(
                [(9, "d3", None, 90)], "k int, d string, src string, x int"
            )
        )
    with pytest.raises(ValueError, match="NULL, empty-string"):
        t.commit_append(
            spark.createDataFrame(
                [(9, "d3/x", "web", 90)],
                "k int, d string, src string, x int",
            )
        )


def test_disjoint_partition_upsert_rebase(spark, tmp_path, monkeypatch):
    """VERDICT r11 wrong #3: two upserts touching DISJOINT partitions
    both commit with ONE rewrite each — the CAS loser rebases its
    already-written leaves onto the winner's manifest instead of
    re-running its rewrite."""
    root = str(tmp_path / "t")
    t = _pt_table(spark, root)
    m1 = t._read_manifest(1)

    # committer B reads a stale version (1) once, so it targets v2
    b = SnapshotTable(spark, root)
    orig = b.current_version
    seen = {"n": 0}

    def stale_once():
        seen["n"] += 1
        return 1 if seen["n"] == 1 else orig()

    monkeypatch.setattr(b, "current_version", stale_once)

    # committer A wins v2 touching partition 'a'
    a_batch = spark.createDataFrame(
        [(1, "a", 11)], "k int, p string, x int"
    )
    assert t.commit_upsert(a_batch, keys=["k", "p"]) == 2

    # committer B (staged at v1) touches partition 'b' -> loses the
    # CAS at v2, rebases, publishes v3 with no second rewrite
    b_batch = spark.createDataFrame(
        [(7, "b", 70)], "k int, p string, x int"
    )
    assert b.commit_upsert(b_batch, keys=["k", "p"]) == 3

    assert rows(t.read()) == [
        (1, "a", 11), (2, "a", 20), (3, "a", 30),
        (4, "b", 40), (5, "b", 50), (6, "c", 60), (7, "b", 70),
    ]
    m2, m3 = t._read_manifest(2), t._read_manifest(3)
    # B's manifest keeps A's rewritten 'a' leaf and the base 'c' leaf
    assert m3["partitions"]["a"] == m2["partitions"]["a"]
    assert m3["partitions"]["c"] == m1["partitions"]["c"]
    assert m3["partitions"]["b"] != m1["partitions"]["b"]
    # exactly ONE data write from B: v3 adds one commit dir over v2's
    data_root = os.path.join(root, "data")
    b_dirs = [d for d in os.listdir(data_root) if "-upsert-" in d]
    assert len(b_dirs) == 2  # one from A, one from B — no retry write


def test_overlapping_partition_upsert_conflicts(spark, tmp_path, monkeypatch):
    """Overlap on the SAME partition must still surface
    SnapshotConflict — the loser's survivors are stale there."""
    root = str(tmp_path / "t")
    t = _pt_table(spark, root)
    b = SnapshotTable(spark, root)
    orig = b.current_version
    seen = {"n": 0}

    def stale_once():
        seen["n"] += 1
        return 1 if seen["n"] == 1 else orig()

    monkeypatch.setattr(b, "current_version", stale_once)

    t.commit_upsert(
        spark.createDataFrame([(1, "a", 11)], "k int, p string, x int"),
        keys=["k", "p"],
    )
    with pytest.raises(SnapshotConflict):
        b.commit_upsert(
            spark.createDataFrame([(2, "a", 22)], "k int, p string, x int"),
            keys=["k", "p"],
        )
    # a plain re-run (fresh base) succeeds
    assert b.commit_upsert(
        spark.createDataFrame([(2, "a", 22)], "k int, p string, x int"),
        keys=["k", "p"],
    ) == 3
    assert (2, "a", 22) in rows(t.read())
    assert (1, "a", 11) in rows(t.read())


def test_blind_append_always_rebases(spark, tmp_path, monkeypatch):
    """A partitioned blind append is base-independent: it rebases even
    onto a winner that touched the SAME partition (Delta's AppendOnly
    rule) — no rows lost on either side."""
    root = str(tmp_path / "t")
    t = _pt_table(spark, root)
    b = SnapshotTable(spark, root)
    orig = b.current_version
    seen = {"n": 0}

    def stale_once():
        seen["n"] += 1
        return 1 if seen["n"] == 1 else orig()

    monkeypatch.setattr(b, "current_version", stale_once)

    # A deletes inside partition 'a' and wins v2
    t.commit_delete("p = 'a' AND k = 3")
    # B appends to the SAME partition from a stale base -> rebases
    assert b.commit_append(
        spark.createDataFrame([(8, "a", 80)], "k int, p string, x int")
    ) == 3
    assert rows(t.read()) == [
        (1, "a", 10), (2, "a", 20), (4, "b", 40),
        (5, "b", 50), (6, "c", 60), (8, "a", 80),
    ]


def test_disjoint_partition_delete_rebase(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    t = _pt_table(spark, root)
    b = SnapshotTable(spark, root)
    orig = b.current_version
    seen = {"n": 0}

    def stale_once():
        seen["n"] += 1
        return 1 if seen["n"] == 1 else orig()

    monkeypatch.setattr(b, "current_version", stale_once)

    t.commit_delete("p = 'a' AND k = 1")      # A wins v2 touching 'a'
    assert b.commit_delete("p = 'c'") == 3     # B touches 'c': rebased
    assert rows(t.read()) == [
        (2, "a", 20), (3, "a", 30), (4, "b", 40), (5, "b", 50)
    ]
    m3 = t._read_manifest(3)
    assert "c" not in m3["partitions"]
    # A's delete survived B's rebase
    assert m3["partitions"]["a"] == t._read_manifest(2)["partitions"]["a"]


def test_two_level_disjoint_rebase(spark, tmp_path, monkeypatch):
    """Rebase is manifest-key-level, so it composes with multi-column
    partitioning: two upserts touching leaves under the SAME first-
    level value but different second-level values are disjoint and
    both commit with one rewrite each."""
    root = str(tmp_path / "t")
    t = _pt2_table(spark, root)
    b = SnapshotTable(spark, root)
    orig = b.current_version
    seen = {"n": 0}

    def stale_once():
        seen["n"] += 1
        return 1 if seen["n"] == 1 else orig()

    monkeypatch.setattr(b, "current_version", stale_once)

    # A wins v2 touching d1/web; B (stale) touches d1/api -> rebases
    t.commit_upsert(
        spark.createDataFrame(
            [(1, "d1", "web", 11)], "k int, d string, src string, x int"
        ),
        keys=["k", "d", "src"],
    )
    assert b.commit_upsert(
        spark.createDataFrame(
            [(3, "d1", "api", 31)], "k int, d string, src string, x int"
        ),
        keys=["k", "d", "src"],
    ) == 3
    assert rows(t.read()) == [
        (1, "d1", "web", 11), (2, "d1", "web", 20), (3, "d1", "api", 31),
        (4, "d2", "web", 40), (5, "d2", "api", 50), (6, "d2", "api", 60),
    ]
    m2, m3 = t._read_manifest(2), t._read_manifest(3)
    assert m3["partitions"]["d1/web"] == m2["partitions"]["d1/web"]
    data_root = os.path.join(root, "data")
    assert sum(1 for d in os.listdir(data_root) if "-upsert-" in d) == 2

    # same-leaf overlap still conflicts
    c = SnapshotTable(spark, root)
    orig_c = c.current_version
    seen_c = {"n": 0}

    def stale_once_c():
        seen_c["n"] += 1
        return 1 if seen_c["n"] == 1 else orig_c()

    monkeypatch.setattr(c, "current_version", stale_once_c)
    with pytest.raises(SnapshotConflict):
        c.commit_upsert(
            spark.createDataFrame(
                [(2, "d1", "web", 22)], "k int, d string, src string, x int"
            ),
            keys=["k", "d", "src"],
        )


def test_empty_batch_upsert_and_no_match_delete_two_level(spark, tmp_path):
    """Empty-batch upsert / no-match delete on a TWO-LEVEL table
    publish content-identical versions with zero data written (the
    multi-column _touched_filter must never see an empty tuple
    list)."""
    t = _pt2_table(spark, str(tmp_path / "t"))
    empty = spark.createDataFrame(
        [], "k int, d string, src string, x int"
    )
    assert t.commit_upsert(empty, keys=["k", "d", "src"]) == 2
    assert t.commit_delete("k = 999999") == 3
    m1, m3 = t._read_manifest(1), t._read_manifest(3)
    assert m3["partitions"] == m1["partitions"]
    assert rows(t.read()) == rows(t.read(version=1))


def _stale_for(monkeypatch, table, n_calls: int):
    orig = table.current_version
    seen = {"n": 0}

    def stale():
        seen["n"] += 1
        return 1 if seen["n"] <= n_calls else orig()

    monkeypatch.setattr(table, "current_version", stale)


def test_delete_rebase_read_scope_conflicts_on_winner_matches(
    spark, tmp_path, monkeypatch
):
    """r12 review catch: a delete READS the whole table, so partition
    disjointness alone cannot justify its rebase — a winner that adds
    PREDICATE-MATCHING rows to a partition the loser never touched
    must force a re-run (Delta's delete-vs-append conflict), else the
    takedown reports success while matching rows survive."""
    root = str(tmp_path / "t")
    t = _pt_table(spark, root)

    # loser staged fully at v1 (version target AND table read)
    b = SnapshotTable(spark, root)
    _stale_for(monkeypatch, b, 2)
    # winner appends a row MATCHING the loser's predicate into 'b'
    # (a partition the loser's discovery never touched: x=10 only in 'a')
    t.commit_append(
        spark.createDataFrame([(9, "b", 10)], "k int, p string, x int")
    )
    with pytest.raises(SnapshotConflict):
        b.commit_delete("x = 10")
    # re-run on fresh state removes BOTH matching rows
    assert b.commit_delete("x = 10") == 3
    assert all(r[2] != 10 for r in rows(t.read()))


def test_delete_rebase_proceeds_when_winner_rows_dont_match(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "t")
    t = _pt_table(spark, root)
    b = SnapshotTable(spark, root)
    _stale_for(monkeypatch, b, 2)
    # winner appends a NON-matching row into 'b'
    t.commit_append(
        spark.createDataFrame([(9, "b", 90)], "k int, p string, x int")
    )
    # loser deletes x=10 (matches only in 'a'): safe rebase -> v3
    assert b.commit_delete("x = 10") == 3
    got = rows(t.read())
    assert (9, "b", 90) in got and all(r[2] != 10 for r in got)


def test_partition_column_type_contract(spark, tmp_path):
    """r12 review catch: manifest keys are Python str(), directory
    keys are hive path segments — types where the two diverge
    (boolean: 'True' vs 'true') would corrupt the touched-set/rebase
    comparison, so non-string/integral partition columns are refused
    at the type level."""
    t = SnapshotTable(spark, str(tmp_path / "t"), partition_by="flag")
    df = spark.createDataFrame([(1, True, 10)], "k int, flag boolean, x int")
    with pytest.raises(TypeError, match="string or integral"):
        t.commit_overwrite(df)
    with pytest.raises(TypeError, match="string or integral"):
        t.commit_upsert(df, keys=["k", "flag"])
    # integral and string columns stay accepted
    t2 = SnapshotTable(spark, str(tmp_path / "t2"), partition_by="b")
    t2.commit_overwrite(spark.createDataFrame([(1, 2, 10)], "k int, b int, x int"))
    assert rows(t2.read()) == [(1, 2, 10)]
    # so are dates: str(date) and the hive segment are both YYYY-MM-DD
    import datetime as dt

    d1, d2 = dt.date(2022, 9, 23), dt.date(2022, 9, 30)
    t3 = SnapshotTable(spark, str(tmp_path / "t3"), partition_by="d")
    t3.commit_overwrite(
        spark.createDataFrame([(1, d1, 10), (2, d2, 20)], "k int, d date, x int")
    )
    t3.commit_upsert(
        spark.createDataFrame([(1, d1, 11)], "k int, d date, x int"), keys=["k", "d"]
    )
    m1, m2 = t3.manifest(1)["partitions"], t3.manifest(2)["partitions"]
    assert set(m2) == {"2022-09-23", "2022-09-30"}
    assert m2["2022-09-30"] == m1["2022-09-30"]  # untouched leaf reused
    assert rows(t3.read()) == [(1, d1, 11), (2, d2, 20)]


def test_rebase_schema_rederivation(spark, tmp_path, monkeypatch):
    """The rebase re-derives schema against the WINNER: a loser append
    with merge_schema=False refuses when the winner evolved the
    schema; with merge_schema=True it adopts the union — and a
    type-conflicting evolution surfaces as SchemaEvolutionError, never
    a silent merge."""
    from health_data_transformation_spark.snapshots import (
        SchemaEvolutionError,
    )

    root = str(tmp_path / "t")
    t = _pt_table(spark, root)

    # winner evolves the schema additively (new column y) in 'a'
    evolved = spark.createDataFrame(
        [(1, "a", 11, 99)], "k int, p string, x int, y int"
    )

    # loser 1: stale append, old columns, merge_schema=False -> must
    # refuse after rebasing onto the evolved winner
    b = SnapshotTable(spark, root)
    _stale_for(monkeypatch, b, 1)
    t.commit_append(evolved, merge_schema=True)  # winner wins v2
    with pytest.raises(SchemaEvolutionError, match="winning"):
        b.commit_append(
            spark.createDataFrame([(9, "c", 90)], "k int, p string, x int")
        )

    # loser 2: same staged race with merge_schema=True -> rebases and
    # adopts the winner's evolved schema (missing y reads NULL)
    c = SnapshotTable(spark, root)
    _stale_for(monkeypatch, c, 1)
    t.commit_append(
        spark.createDataFrame(
            [(2, "a", 22, 88)], "k int, p string, x int, y int"
        ),
        merge_schema=True,
    )  # another winner
    v = c.commit_append(
        spark.createDataFrame([(9, "c", 90)], "k int, p string, x int"),
        merge_schema=True,
    )
    got = t.read(version=v)
    assert set(got.columns) == {"k", "p", "x", "y"}
    assert (9, "c", 90, None) in rows(got)

    # loser 3: batch with y as STRING conflicts with the winner's int y
    d = SnapshotTable(spark, root)
    _stale_for(monkeypatch, d, 1)
    t.commit_append(
        spark.createDataFrame(
            [(3, "a", 33, 77)], "k int, p string, x int, y int"
        ),
        merge_schema=True,
    )
    with pytest.raises(SchemaEvolutionError, match="additive"):
        d.commit_append(
            spark.createDataFrame(
                [(9, "c", 90, "zz")], "k int, p string, x int, y string"
            ),
            merge_schema=True,
        )


def test_vacuum_collects_partitioned_orphan_commit(spark, tmp_path):
    """A conflicted loser that must re-run leaves its first-attempt
    PARTITIONED commit dir (nested leaves) unreferenced — vacuum
    removes the whole dir since no retained version references any of
    its leaves."""
    t = _pt_table(spark, str(tmp_path / "t"))
    # simulate the loser's fully-written but never-published rewrite
    orphan_map = t._write_data_partitioned(
        spark.createDataFrame([(9, "a", 90)], "k int, p string, x int"),
        2,
        "upsert",
    )
    orphan_commit = os.path.dirname(next(iter(orphan_map.values())))
    assert os.path.isdir(orphan_commit)
    removed = t.vacuum(retain_last=1)
    assert orphan_commit in removed
    assert not os.path.exists(orphan_commit)
    assert rows(t.read())  # retained snapshot unharmed


def test_partition_key_roundtrip_through_hive_path(spark, tmp_path):
    """The manifest-key contract behind the rebase comparison: for the
    ALLOWED partition types (string/integral), Python str() and the
    unquoted hive path segment agree — including values Spark
    percent-encodes in the path (spaces, '%', ':', unicode).  A
    divergence here is exactly the class _check_partition_types
    exists to exclude."""
    vals = ["plain", "a b", "x%20y", "café", "a:b", "dot.dash-_"]
    t = SnapshotTable(spark, str(tmp_path / "t"), partition_by="p")
    t.commit_overwrite(
        spark.createDataFrame(
            [(i, v, i * 10) for i, v in enumerate(vals)],
            "k int, p string, x int",
        )
    )
    m = t.manifest(1)
    assert set(m["partitions"]) == set(vals)  # str(v) == unquoted path
    # integral keys: str(int) round-trips too
    t2 = SnapshotTable(spark, str(tmp_path / "t2"), partition_by="p")
    t2.commit_overwrite(
        spark.createDataFrame(
            [(1, -5, 1), (2, 0, 2), (3, 123456789012, 3)],
            "k int, p long, x int",
        )
    )
    assert set(t2.manifest(1)["partitions"]) == {"-5", "0", "123456789012"}
    # and the delete touched-set uses the same rendering end to end
    t2.commit_delete("p = -5")
    assert "-5" not in t2.manifest(2)["partitions"]
    assert t2.manifest(2)["partitions"]["0"] == t2.manifest(1)["partitions"]["0"]


def test_partitioned_upsert_and_delete_still_reject_bad_keys(spark, tmp_path):
    """r13: the pre-write bad-key probe was removed from the
    upsert/delete rewrite paths (the partitioned write's own
    observation rejects bad keys) — the rejection contract must hold
    unchanged: bad keys in an upsert batch leave nothing published, no
    directory left."""
    t = _pt_table(spark, str(tmp_path / "t"))
    data_root = os.path.join(str(tmp_path / "t"), "data")
    dirs_before = sorted(os.listdir(data_root))

    for bad in [(9, None, 90), (9, "", 90)]:
        with pytest.raises(ValueError, match="NULL, empty-string"):
            t.commit_upsert(
                spark.createDataFrame([bad], "k int, p string, x int"),
                keys=["k", "p"],
            )
    assert sorted(os.listdir(data_root)) == dirs_before
    assert t.current_version() == 1

    # delete with a predicate that matches nothing still publishes a
    # content-identical version with zero data written (unchanged)
    v = t.commit_delete("k = 12345")
    assert v == 2
    assert sorted(os.listdir(data_root)) == dirs_before


def test_flat_appends_past_the_listing_threshold_fold(spark, tmp_path):
    """An unpartitioned append that would make the manifest list more
    directories than Spark's parallel partition discovery threshold
    folds the table into one new directory holding the same rows; a
    pre-fold version still reads, and ``vacuum(retain_last=1)`` then
    removes the directories the fold superseded."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        t = SnapshotTable(spark, str(tmp_path / "t"))
        batches = [[(k, f"v{k}")] for k in range(3)]
        for batch in batches:
            t.commit_append(spark.createDataFrame(batch, "k int, v string"))
        pre, folded = t.manifest(2)["dirs"], t.manifest(3)["dirs"]
        assert len(pre) == 2 and len(folded) == 1 and "-fold-" in folded[0]
        assert rows(t.read()) == sorted(r for b in batches for r in b)
        assert rows(t.read(version=2)) == sorted(batches[0] + batches[1])
        data_root = os.path.join(str(tmp_path / "t"), "data")
        assert sorted(os.listdir(data_root)) == sorted(
            os.path.basename(d) for d in pre + folded
        )
        assert sorted(t.vacuum(retain_last=1)) == sorted(pre)
        assert os.listdir(data_root) == [os.path.basename(folded[0])]
        assert rows(t.read()) == sorted(r for b in batches for r in b)
        with pytest.raises(ValueError, match="retention horizon"):
            t.read(version=2)
    finally:
        spark.conf.set(key, prev)
