"""No-Spark tests: registry ordering contract + bench_diff gate logic."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TOOLS = str(ROOT / "tools")
BENCH_DIFF = str(ROOT / "tools" / "bench_diff.py")
sys.path.insert(0, str(ROOT))


def test_registry_names_unique_and_oracled():
    import __spark_entry__ as e

    qs = list(e.queries().keys())
    assert len(qs) == len(set(qs))
    oracles = e.oracle_sql()
    missing = [n for n in qs if n not in oracles]
    assert not missing, f"queries without oracle entries: {missing}"


def test_promoted_families_inside_driver_prefix():
    """The driver re-checks a fixed 50-query prefix of queries().
    Round-10 policy (VERDICT r9 tasks #1/#6): the prefix is the pinned
    q169 ingest anchor, EVERY remaining never-driver-verified query
    (ledger paydown to 0 — new entries are never-verified by
    construction, so they land here automatically), a small documented
    _REPROOF set (changed-result or verdict-named re-proof slots), and
    staleness rotation for the rest: slots whose driver evidence is in
    the oldest tier.  Every rotated-out §2 proof query must keep
    driver-grade evidence in a COMMITTED CORRECTNESS_r*.json
    (ledger-backed, not convention)."""
    import __spark_entry__ as e
    from tools.driver_ledger import build_ledger

    qs = list(e.queries().keys())
    first50 = qs[:50]
    assert len(e._PROMOTED) == 50
    assert first50 == e._PROMOTED, "prefix is not exactly _PROMOTED"
    assert "q169_ingest_lifecycle" in first50, "S4-S8 ingest anchor unpinned"

    ledger = build_ledger()
    # 1) ledger paydown: every never-verified query (including entries
    #    added this round) must be in the prefix — never-count goes to
    #    0 at the next driver run, and stays there.
    never_all = {n for n, rs in ledger.items() if not rs}
    missing = never_all - set(first50)
    assert not missing, f"never-verified queries outside prefix: {sorted(missing)}"

    # 2) the re-proof exception list is small and every member already
    #    carries driver evidence (otherwise it belongs to the never
    #    tier, not the exception list).
    assert len(e._REPROOF) <= 8
    for name in e._REPROOF:
        assert ledger.get(name), f"_REPROOF {name} has no prior evidence"

    # 3) the remaining slots are SET-DERIVED from the ledger: every
    #    never-verified query plus an exact prefix of the staleness
    #    rotation order — checked under two ledger views so the
    #    assertion is invariant to the round's own driver artifact
    #    landing (VERDICT r10 wrong #1; policy upgraded in r11 because
    #    the per-slot tier rule could not fill the prefix once the
    #    never-backlog was paid down).  Proven post-round stable by
    #    test_prefix_rotation_post_round_stable below.
    from tools.driver_ledger import prefix_rotation_ok

    assert prefix_rotation_ok(
        first50, "q169_ingest_lifecycle", e._REPROOF, ledger
    ), "prefix rotation slots are not the stalest-first ledger prefix"

    # §2 proof queries: driver-verified in at least one committed round
    for name in [
        "q01_week_count", "q02_weekly_counts", "q03_pricing_summary",
        "q04_recent_weeks", "q05_priority_ratio", "q06_cumulative_usage",
        "q07_top_nations", "q08a_segment_week_ratio",
        "q08b_top_bottom_nations", "q10_dedup_exact", "q11_anti_join",
        "q12_semi_join", "q13_json_sentinel_clean", "q14_validation_split",
        "q23_balance_buckets", "q24_normalize_strings", "q25_date_parts",
        "q26_union_append", "q27_idempotent_upsert", "q51_lsh_near_dup",
        "q53_multimodal_decode", "q57_regex_tokens", "q65_token_chunks",
        "q169_ingest_lifecycle",
    ]:
        assert ledger.get(name), f"§2 proof {name} has no committed driver evidence"
    # steering must never drop or duplicate a query
    import health_data_transformation_spark.plans.analytics as A

    assert set(qs) == set(A.REGISTRY)


def test_prefix_rotation_post_round_stable():
    """VERDICT r10 wrong #1 regression, set-level form: the prefix
    must stay justified AFTER the round's driver artifact lands on its
    own slots (the q15 failure), and a cherry-picked rotation (a
    fresher query included while a staler one waits) must fail in
    BOTH views."""
    from tools.driver_ledger import prefix_rotation_ok

    # mini-registry: pin + reproof + 5 rotatables + 1 never
    mid = {
        "pin": [9, 10], "rp": [10], "qnew": [],
        "q_r2": [2], "q_r3": [3], "q_r5": [5], "q_r9": [9, 10],
    }
    good = ["pin", "qnew", "rp", "q_r2", "q_r3"]  # 2 stale slots: r2, r3
    assert prefix_rotation_ok(good, "pin", ["rp"], mid)
    # cherry-pick: q_r5 in, q_r3 (staler) out -> rejected
    bad = ["pin", "qnew", "rp", "q_r2", "q_r5"]
    assert not prefix_rotation_ok(bad, "pin", ["rp"], mid)
    # never-verified query left out entirely -> rejected
    noq = ["pin", "rp", "q_r2", "q_r3", "q_r5"]
    assert not prefix_rotation_ok(noq, "pin", ["rp"], mid)

    # post-round: the r11 artifact lands on every prefix slot — the
    # good prefix must STAY justified (view 2 strips r11), the
    # cherry-pick must stay rejected
    post = {
        "pin": [9, 10, 11], "rp": [10, 11], "qnew": [11],
        "q_r2": [2, 11], "q_r3": [3, 11], "q_r5": [5], "q_r9": [9, 10],
    }
    assert prefix_rotation_ok(good, "pin", ["rp"], post)
    bad_post = {
        "pin": [9, 10, 11], "rp": [10, 11], "qnew": [11],
        "q_r2": [2, 11], "q_r3": [3], "q_r5": [5, 11], "q_r9": [9, 10],
    }
    assert not prefix_rotation_ok(bad, "pin", ["rp"], bad_post)


def test_bench_diff_gate(tmp_path):
    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(json.dumps({"queries": {"a": 1.0, "b": 5.0, "c": 0.1}}))
    # a regressed 3x (+2s) -> fail; b improved; c regressed 5x but only
    # +0.4s absolute -> under the jitter floor, ignored
    new.write_text(json.dumps({"queries": {"a": 3.0, "b": 2.0, "c": 0.5, "d": 9.9}}))
    proc = subprocess.run(
        [sys.executable, BENCH_DIFF, str(old), str(new)],
        capture_output=True, text=True,
    )
    assert proc.returncode == 1
    assert "REGRESSION a:" in proc.stdout
    assert "c:" not in proc.stdout.replace("queries", "")
    # same files under a permissive factor -> pass
    proc2 = subprocess.run(
        [sys.executable, BENCH_DIFF, str(old), str(new),
         "--factor", "4.0"],
        capture_output=True, text=True,
    )
    assert proc2.returncode == 0


def test_bench_diff_adjudication(tmp_path):
    """A formal 2x+1s trip is downgraded to 'adjudicated' ONLY with
    >=2 distinct fresh-session measurements — ON THE SAME CODE VERSION
    as the new detail (ADVICE r10 #1) — whose MIN lands under the gate
    line (the q56/q303 procedure made mechanical); one session, a min
    that reproduces the regression, evidence from another code
    version, or an unstamped new detail each leave the trip standing."""
    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(json.dumps({"queries": {"a": 1.0, "b": 1.0}}))
    new.write_text(
        json.dumps({"code": "cafe123", "queries": {"a": 3.0, "b": 3.0}})
    )

    def sess_line(pid, uptime, queries, code="cafe123"):
        return json.dumps(
            {"fingerprint": {"pid": pid, "jvm_uptime_ms": uptime,
                             "code": code},
             "queries": queries}
        )

    def run(sessions):
        return subprocess.run(
            [sys.executable, BENCH_DIFF, str(old),
             str(new), "--sessions", str(sessions)],
            capture_output=True, text=True,
        )

    # a: two fresh same-code sessions, min 1.1s (clean floor) -> adjudicated
    # b: two fresh sessions, both >= 2x (floor moved) -> REAL
    sessions = tmp_path / "sessions.jsonl"
    sessions.write_text("\n".join([
        sess_line(1, 10, {"a": [1.1, 3.0], "b": [2.9, 3.1]}),
        sess_line(2, 20, {"a": [2.8], "b": [3.0]}),
    ]) + "\n")
    proc = run(sessions)
    assert proc.returncode == 1
    assert "ADJUDICATED a:" in proc.stdout
    assert "REGRESSION b:" in proc.stdout

    # only ONE session for a -> no adjudication, trip stands
    sessions.write_text(sess_line(1, 10, {"a": [1.1]}) + "\n")
    proc2 = run(sessions)
    assert proc2.returncode == 1
    assert "REGRESSION a:" in proc2.stdout

    # two fresh sessions but measured on OLDER code (pre-regression
    # floor) -> inadmissible, trip stands (the ADVICE r10 #1 hole)
    sessions.write_text("\n".join([
        sess_line(1, 10, {"a": [1.1]}, code="beef456"),
        sess_line(2, 20, {"a": [1.2]}, code="beef456"),
    ]) + "\n")
    proc3 = run(sessions)
    assert proc3.returncode == 1
    assert "REGRESSION a:" in proc3.stdout

    # unstamped new detail -> adjudication disabled even with matching
    # unstamped sessions
    new.write_text(json.dumps({"queries": {"a": 3.0, "b": 3.0}}))
    sessions.write_text("\n".join([
        sess_line(1, 10, {"a": [1.1]}, code=None),
        sess_line(2, 20, {"a": [1.2]}, code=None),
    ]) + "\n")
    proc4 = run(sessions)
    assert proc4.returncode == 1
    assert "REGRESSION a:" in proc4.stdout
    assert "adjudication disabled" in proc4.stdout


def test_explain_audit_names_exist_in_registry():
    """The audit tool indexes queries() by name at runtime; a renamed
    query must fail here, not as a KeyError mid-audit."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "explain_audit", str(ROOT / "tools" / "explain_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    import __spark_entry__ as e

    qs = set(e.queries())
    missing = [n for n in mod.DEFAULT_QUERIES if n not in qs]
    assert not missing, f"audit names not in registry: {missing}"
    stale = [n for n in mod.ALLOWED_TINY_BROADCAST_CROSS if n not in qs]
    assert not stale, f"allowlist names not in registry: {stale}"
    stale_r = [n for n in mod.ALLOWED_RESCAN if n not in qs]
    assert not stale_r, f"rescan allowlist names not in registry: {stale_r}"
    assert all(mod.ALLOWED_RESCAN.values()), "rescan allowlist entry without a reason"


def test_registry_fn_names_match_keys():
    """Every registered fn must be the q-function its key names — a
    helper def slipped between @register and its query silently
    rebinds the entry (the q177/_q177_build regression)."""
    from health_data_transformation_spark.plans.analytics import REGISTRY

    for name, spec in REGISTRY.items():
        qnum = name.split("_", 1)[0]
        assert spec.fn.__name__ == qnum, (
            f"{name} registered fn {spec.fn.__name__!r}, expected {qnum!r}"
        )


def _mk_plan(window_args: str, scan: str = "orders") -> str:
    return f"""== Physical Plan ==
Window (4)
+- Sort (3)
   +- Exchange (2)
      +- Scan parquet  (1)

(1) Scan parquet
Output [2]: [a#1L, b#2]
Location: InMemoryFileIndex [file:/root/testdata/sf0.1/{scan}.parquet]

(2) Exchange
Input [2]: [a#1L, b#2]

(3) Sort
Input [2]: [a#1L, b#2]

(4) Window
Input [2]: [a#1L, b#2]
Arguments: {window_args}
"""


def test_explain_audit_window_detector():
    """The q271 class (r4 verdict task #3): a Window partitioned by
    nothing or only low-cardinality columns over an unbounded fact
    scan is flagged; the same window over an aggregate, a window
    with a high-card partition, and the no-ORDER-BY ambiguity case
    (two bracket groups where the second is the PARTITION spec) all
    pass."""
    sys.path.insert(0, TOOLS)
    from explain_audit import audit_windows

    # empty partition over a fact scan -> flagged
    empty = _mk_plan(
        "[row_number() windowspecdefinition(a#1L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS rn#9], [a#1L ASC NULLS FIRST]"
    )
    assert len(audit_windows(empty)) == 1

    # low-card partition (o_orderpriority) over a fact scan -> flagged
    lowcard = _mk_plan(
        "[row_number() windowspecdefinition(o_orderpriority#3, a#1L ASC "
        "NULLS FIRST, specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), currentrow$())) AS rn#9], "
        "[o_orderpriority#3], [a#1L ASC NULLS FIRST]"
    )
    assert len(audit_windows(lowcard)) == 1

    # high-card partition -> clean
    highcard = _mk_plan(
        "[row_number() windowspecdefinition(custkey#5L, a#1L ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS rn#9], [custkey#5L], [a#1L ASC NULLS FIRST]"
    )
    assert audit_windows(highcard) == []

    # no-ORDER-BY two-group ambiguity: second group is the PARTITION
    # spec (bucket), not an order spec -> clean (the q51 false positive)
    noorder = _mk_plan(
        "[count(1) windowspecdefinition(bucket#22L, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$())) AS _bn#38L], [bucket#22L]"
    )
    assert audit_windows(noorder) == []

    # dimension scan (nation) -> clean even with empty partition
    dim = _mk_plan(
        "[row_number() windowspecdefinition(a#1L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS rn#9], [a#1L ASC NULLS FIRST]",
        scan="nation",
    )
    assert audit_windows(dim) == []


def test_driver_ledger_green_semantics():
    """A row counts as driver-verified only when rows+schema match, no
    err, and hash_match is not explicitly false (absent = rows-only
    check, still a pass)."""
    sys.path.insert(0, TOOLS)
    from driver_ledger import green

    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "err": None}
    assert green(ok)
    assert green({**ok, "hash_match": None})
    assert not green({**ok, "hash_match": False})
    assert not green({**ok, "err": "spark: boom"})
    assert not green({**ok, "rows_match": False})


def test_round_gate_artifact_freshness(tmp_path, monkeypatch):
    """The gate's artifact check: a registry query missing from the
    artifact, a stale artifact row, or a recorded failure each fail;
    the exact-match zero-failure case passes."""
    import json as _json

    sys.path.insert(0, TOOLS)

    def check(artifact_rows, registry):
        arty = set(artifact_rows)
        missing = sorted(set(registry) - arty)
        extra = sorted(arty - set(registry))
        bad = sorted(
            n for n, r in artifact_rows.items()
            if r.get("err") or r.get("rows_match") is False
            or r.get("schema_match") is False
            or r.get("values_match") is False
        )
        return not (missing or extra or bad)

    good = {"q1": {"rows_match": True, "schema_match": True,
                   "values_match": True, "err": None}}
    assert check(good, ["q1"])
    assert not check(good, ["q1", "q2"])          # registry grew
    assert not check({**good, "qx": good["q1"]}, ["q1"])  # stale row
    assert not check(
        {"q1": {**good["q1"], "values_match": False}}, ["q1"]
    )


def test_bench_derive_round(tmp_path):
    """ADVICE r6: the detail round must be max(driver+1, detail) so a
    re-run after this round's detail exists overwrites it instead of
    stamping the next round."""
    from bench import derive_round

    assert derive_round(str(tmp_path), None) == 1  # empty repo
    (tmp_path / "BENCH_r06.json").write_text("{}")
    (tmp_path / "BENCH_detail_r06.json").write_text("{}")
    assert derive_round(str(tmp_path), None) == 7   # fresh r7 run
    (tmp_path / "BENCH_detail_r07.json").write_text("{}")
    assert derive_round(str(tmp_path), None) == 7   # re-run overwrites r7
    (tmp_path / "BENCH_r07.json").write_text("{}")
    assert derive_round(str(tmp_path), None) == 8   # driver closed r7
    assert derive_round(str(tmp_path), "42") == 42  # ROUND env wins


def test_bench_diff_canary_normalization(tmp_path):
    """A uniform 2x slowdown that also moves the canaries 2x is drift,
    not regression; the same slowdown with FLAT canaries is real."""
    def detail(times, canary_t):
        return {
            "queries": times,
            "canary": {
                "queries": ["q01", "q47"],
                "start": {"reps": {"q01": [canary_t], "q47": [canary_t]}},
                "end": {"reps": {"q01": [canary_t], "q47": [canary_t]}},
                "within_run_drift": 1.0,
            },
        }

    old = tmp_path / "old.json"
    drift = tmp_path / "drift.json"
    real = tmp_path / "real.json"
    old.write_text(json.dumps(detail({"a": 2.0, "b": 3.0}, 1.0)))
    # whole session 2x slower, canaries too -> normalized ratio 1.0
    drift.write_text(json.dumps(detail({"a": 4.0, "b": 6.0}, 2.0)))
    # 'a' alone 3x slower, canaries flat -> real regression
    real.write_text(json.dumps(detail({"a": 6.0, "b": 3.0}, 1.0)))

    rc_drift = subprocess.run(
        [sys.executable, BENCH_DIFF, str(old), str(drift)],
        capture_output=True, text=True,
    )
    assert rc_drift.returncode == 0, rc_drift.stdout
    assert "canary drift factor" in rc_drift.stdout

    rc_real = subprocess.run(
        [sys.executable, BENCH_DIFF, str(old), str(real)],
        capture_output=True, text=True,
    )
    assert rc_real.returncode == 1
    assert "REGRESSION a:" in rc_real.stdout


def test_round_gate_perf_claims(tmp_path):
    """r6 verdict task #6 + ADVICE r7: a perf claim needs >=2
    distinct-session measurements under >=2 DISTINCT labels (an actual
    old-vs-new A/B, not two runs of the B arm) in bench_sessions.jsonl;
    no claims file passes."""
    from pathlib import Path

    from tools.round_gate import check_perf_claims

    root = Path(tmp_path)
    assert check_perf_claims(7, root) is None  # no claims file

    (root / "PERF_CLAIMS_r07.json").write_text(
        json.dumps({"q199_warehouse_profile": "switched agg shape"})
    )
    msg = check_perf_claims(7, root)
    assert msg is not None and "GATE FAIL" in msg  # no sessions at all

    def session(pid, uptime, label):
        return json.dumps({
            "fingerprint": {"pid": pid, "jvm_uptime_ms": uptime},
            "label": label,
            "queries": {"q199_warehouse_profile": [1.0, 1.1]},
        })

    (root / "bench_sessions.jsonl").write_text(session(1, 100, "new") + "\n")
    assert "GATE FAIL" in check_perf_claims(7, root)  # one session only

    # two distinct sessions, ONE label: a single post-change ab_measure
    # run with no baseline arm — the exact q199 failure mode (ADVICE r7)
    (root / "bench_sessions.jsonl").write_text(
        session(1, 100, "new") + "\n" + session(2, 200, "new") + "\n"
    )
    assert "GATE FAIL" in check_perf_claims(7, root)

    # two distinct sessions, two labels (old + new shape): pass
    (root / "bench_sessions.jsonl").write_text(
        session(1, 100, "old") + "\n" + session(2, 200, "new") + "\n"
    )
    assert check_perf_claims(7, root) is None


def test_explain_audit_rescan_rule():
    """The re-execution detector flags >RESCAN_MAX identical surviving
    scans and ignores distinct-filter multi-pass plans."""
    from tools.explain_audit import RESCAN_MAX, audit_rescan

    def plan(n_same, pushed="[]"):
        lines = []
        for i in range(n_same):
            nid = i + 1
            lines.append(f"{'   ' * i}* Scan parquet  ({nid})")
        lines.append("")
        for i in range(n_same):
            nid = i + 1
            lines.append(f"({nid}) Scan parquet ")
            lines.append(
                "Location: InMemoryFileIndex [file:/x/documents.parquet]"
            )
            lines.append("ReadSchema: struct<text:string>")
            lines.append(f"PushedFilters: {pushed}")
            lines.append("PartitionFilters: []")
        return "\n".join(lines)

    assert audit_rescan(plan(RESCAN_MAX)) == []
    findings = audit_rescan(plan(RESCAN_MAX + 1))
    assert findings and "documents" in findings[0]


def test_explain_audit_rescan_scopes_to_final_plan():
    """An executed AdaptiveSparkPlan prints the Initial Plan tree below
    the Final one; scans that ReusedExchange already merged still
    appear there and must NOT be counted (the q116 phantom from the
    rule's first sweep)."""
    from tools.explain_audit import audit_rescan

    plan = """== Physical Plan ==
AdaptiveSparkPlan (99)
+- == Final Plan ==
   * HashAggregate (3)
   +- ReusedExchange (2)
      +- Scan parquet  (1)
+- == Initial Plan ==
   HashAggregate (98)
   +- Union (97)
      :- Scan parquet  (93)
      :- Scan parquet  (94)
      :- Scan parquet  (95)
      +- Scan parquet  (96)

(1) Scan parquet 
Location: InMemoryFileIndex [file:/x/documents.parquet]
ReadSchema: struct<text:string>
PushedFilters: []
PartitionFilters: []

(93) Scan parquet 
Location: InMemoryFileIndex [file:/x/documents.parquet]
ReadSchema: struct<text:string>
PushedFilters: []
PartitionFilters: []

(94) Scan parquet 
Location: InMemoryFileIndex [file:/x/documents.parquet]
ReadSchema: struct<text:string>
PushedFilters: []
PartitionFilters: []

(95) Scan parquet 
Location: InMemoryFileIndex [file:/x/documents.parquet]
ReadSchema: struct<text:string>
PushedFilters: []
PartitionFilters: []

(96) Scan parquet 
Location: InMemoryFileIndex [file:/x/documents.parquet]
ReadSchema: struct<text:string>
PushedFilters: []
PartitionFilters: []
"""
    assert audit_rescan(plan) == []  # final tree has ONE scan


def test_git_code_untracked_content_changes_stamp(tmp_path):
    """ADVICE r11 #1: the dirty-tree content stamp must cover untracked
    file CONTENT, not just names — two dirty states differing only
    inside a new (untracked) module must not share a stamp."""
    import subprocess
    import sys

    sys.path.insert(0, str(ROOT))
    try:
        from bench import git_code
    finally:
        sys.path.pop(0)

    repo = tmp_path / "r"
    repo.mkdir()

    def git(*args):
        subprocess.run(
            ["git", "-C", str(repo), *args],
            check=True, capture_output=True,
            env={**os.environ, "GIT_AUTHOR_NAME": "t",
                 "GIT_AUTHOR_EMAIL": "t@t", "GIT_COMMITTER_NAME": "t",
                 "GIT_COMMITTER_EMAIL": "t@t"},
        )

    git("init", "-q")
    (repo / "a.py").write_text("x = 1\n")
    git("add", "a.py")
    git("commit", "-qm", "base")

    clean = git_code(str(repo))
    assert clean is not None and "-dirty-" not in clean

    (repo / "new_module.py").write_text("plan = 'A'\n")
    stamp_a = git_code(str(repo))
    assert "-dirty-" in stamp_a

    (repo / "new_module.py").write_text("plan = 'B'\n")
    stamp_b = git_code(str(repo))
    assert "-dirty-" in stamp_b
    # same untracked NAME, different CONTENT -> different stamps
    assert stamp_a != stamp_b

    # tracked-diff changes still alter the stamp (pre-existing behavior)
    (repo / "a.py").write_text("x = 2\n")
    assert git_code(str(repo)) not in (stamp_a, stamp_b)


def test_dump_explain_normalizes_only_run_specific_text():
    """``dump_explain --against`` compares plans after ``normalize_plan``:
    two dumps of one plan that differ only in expression ids, exchange
    and RDD ids, checkpoint attribute lists, commit uuids and temp roots
    compare equal; a plan with another operator or filter does not."""
    sys.path.insert(0, TOOLS)
    from dump_explain import normalize_plan

    def plan(eid, rdd, pid, commit, root, cond="isnotnull(rn#{e})"):
        return "\n".join([
            "AdaptiveSparkPlan (3)",
            "+- Filter (2)",
            "   +- Scan ExistingRDD (1)",
            "(1) Scan ExistingRDD",
            f"Output [2]: [rn#{eid}L, v#{eid + 1}]",
            f"Arguments: [rn#{eid}L, v#{eid + 1}], MapPartitionsRDD[{rdd}] "
            "at localCheckpoint at NativeMethodAccessorImpl.java:0, "
            "ExistingRDD, UnknownPartitioning(0)",
            f"Condition : {cond.format(e=eid)}",
            f"Arguments: hashpartitioning(rn#{eid}L, 4), [plan_id={pid}], "
            f"Subquery subquery#{eid + 9}, [id=#{pid + 1}]",
            f"Location: InMemoryFileIndex [file:/tmp/hdt_{pid}_{root}/"
            f"q1_{root}/data/_commit={commit}/assigned]",
        ])

    a = plan(12, 1050, 311, "000001-append-1a2b3c4d", "k2j3x9")
    b = plan(4077, 88, 9, "000001-append-ffee0011", "zz81qq")
    assert normalize_plan(a) == normalize_plan(b)
    assert "hdt_ROOT/.../assigned" in normalize_plan(a)
    other = plan(12, 1050, 311, "000001-append-1a2b3c4d", "k2j3x9", cond="true")
    assert normalize_plan(other) != normalize_plan(a)
