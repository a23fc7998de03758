"""Driver-coverage ledger (r4 verdict task #6): diff every committed
CORRECTNESS_r*.json against the live registry and report, per query,
which rounds the DRIVER verified it green — so each round's 50-query
prefix rotation is chosen from data, not memory.

A query counts as driver-verified in a round iff its artifact row has
rows_match & schema_match & (hash_match true OR absent-with-no-err —
the weaker rows-only check for non-SQL-expressible ops) and err null.

Usage:
  python tools/driver_ledger.py            # summary + never-verified list
  python tools/driver_ledger.py --stale    # + full rotation order (the
                                           #   prefix builder's input once
                                           #   never-count is 0)
  python tools/driver_ledger.py --json P   # also write machine ledger
Exit 1 iff the q169 prefix-pin assertion fails (round_gate gates on it).
"""

from __future__ import annotations

import glob
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def round_of(path: str) -> int:
    m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
    return int(m.group(1)) if m else -1


def green(row: dict) -> bool:
    if row.get("err"):
        return False
    if not row.get("rows_match") or not row.get("schema_match"):
        return False
    hm = row.get("hash_match")
    return hm is not False  # None => rows-only check, still a pass


def rotation_order(ledger: dict[str, list[int]]) -> list[str]:
    """Driver-verified queries sorted stalest-first by (newest
    evidence round, name) — the total order the prefix builder
    consumes (never-verified queries are NOT in this list; they enter
    the prefix unconditionally)."""
    return [
        n
        for _, n in sorted((max(rs), n) for n, rs in ledger.items() if rs)
    ]


def prefix_rotation_ok(
    first50: list[str],
    pin: str,
    reproof: list[str],
    ledger: dict[str, list[int]],
) -> bool:
    """Set-level prefix justification, POST-ROUND STABLE (VERDICT r10
    wrong #1, policy upgraded in r11).

    The prefix is legitimate iff, under EITHER ledger view, its
    non-pin/non-reproof slots are exactly {every never-verified query}
    plus a PREFIX of the staleness rotation order (stalest evidence
    first, name tie-break) — i.e. the builder spent every free slot on
    the queries whose driver proof is oldest, no cherry-picking.

      view 1: the full committed ledger — the as-built state MID-ROUND
              (the round-R prefix is constructed against
              CORRECTNESS_{<=R-1}, all that exists then);
      view 2: the ledger EXCLUDING the newest committed round — the
              as-built state POST-ROUND, after the round-R driver
              artifact lands on the very slots being judged (the r10
              q15 failure: stale evidence [2] became [2, 10] and the
              single-view derivation rejected its own rotation).

    The earlier per-slot tier rule ("within one round of the oldest
    tier") could not even FILL the prefix once the never-backlog was
    paid down (r11: 2 never + 45 free slots vs 25 tier-eligible
    queries); the exact-prefix-of-rotation-order rule is stricter
    where it matters (no mid-tier cherry-picks) and always fillable.
    """

    def _view_ok(view: dict[str, list[int]]) -> bool:
        never = {n for n, rs in view.items() if not rs}
        fixed = {pin} | set(reproof)
        slots = [n for n in first50 if n not in fixed]
        if not never <= set(slots):
            return False  # a never-verified query left out of the prefix
        stale_slots = [n for n in slots if n not in never]
        order = [n for n in rotation_order(view) if n not in fixed]
        expected = order[: len(stale_slots)]
        return sorted(stale_slots) == sorted(expected)

    newest = max((r for rs in ledger.values() for r in rs), default=0)
    stripped = {
        n: [r for r in rs if r != newest] for n, rs in ledger.items()
    }
    return _view_ok(ledger) or _view_ok(stripped)


def build_ledger() -> dict[str, list[int]]:
    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as e

    registry = list(e.queries().keys())
    ledger: dict[str, list[int]] = {name: [] for name in registry}
    for path in sorted(glob.glob(str(ROOT / "CORRECTNESS_r*.json"))):
        rnd = round_of(path)
        if rnd < 0:
            continue
        data = json.loads(Path(path).read_text())
        rows = data.get("queries", data)  # tolerate either artifact shape
        for name, row in rows.items():
            if name in ledger and isinstance(row, dict) and green(row):
                ledger[name].append(rnd)
    return ledger


def main() -> None:
    json_out = None
    if "--json" in sys.argv:
        json_out = sys.argv[sys.argv.index("--json") + 1]
    ledger = build_ledger()
    never = sorted(n for n, rounds in ledger.items() if not rounds)
    verified = {n: r for n, r in ledger.items() if r}
    print(
        f"registry: {len(ledger)} queries; driver-verified at least "
        f"once: {len(verified)}; NEVER driver-verified: {len(never)}"
    )
    for name in never:
        print(f"  never: {name}")
    # VERDICT r9 task #6: staleness rotation.  The full rotation order
    # (never-verified first, then oldest-evidence ascending) is what
    # each round's prefix builder consumes after never-count reaches 0,
    # so every entry's driver proof stays <= ~5 rounds old (49
    # rotating slots / ~330 entries ~= 7 rounds full cycle; the 50th
    # slot is the q169 pin).
    stale_all = sorted(
        ((max(r), n) for n, r in verified.items()), key=lambda t: (t[0], t[1])
    )
    newest = max((max(r) for r in verified.values()), default=0)
    if stale_all:
        oldest_rnd = stale_all[0][0]
        n_oldest = sum(1 for rnd, _ in stale_all if rnd == oldest_rnd)
        print(
            f"\nmax staleness: r{oldest_rnd} "
            f"({newest - oldest_rnd} rounds behind r{newest}; "
            f"{n_oldest} queries at that age)"
        )
    print("oldest driver evidence (round, query):")
    for rnd, name in stale_all[:15]:
        print(f"  r{rnd}: {name}")
    if "--stale" in sys.argv:
        print("\nrotation order (never first, then oldest evidence):")
        for name in never:
            print(f"  never {name}")
        for rnd, name in stale_all:
            print(f"  r{rnd}    {name}")
    if json_out:
        Path(json_out).write_text(
            json.dumps(
                {"rounds_verified": ledger, "never": never},
                indent=1,
                sort_keys=True,
            )
        )
        print(f"\nwrote {json_out}")

    # VERDICT r5 task #3: COVERAGE.md's header count is GENERATED
    # evidence, not prose — assert it equals the live registry size and
    # that every registry entry is mentioned (by its qNNN prefix) in at
    # least one COVERAGE row.  round_gate fails on this exit code.
    cov = (ROOT / "COVERAGE.md").read_text()
    m = re.search(r"All (\d+) registered queries", cov)
    if not m or int(m.group(1)) != len(ledger):
        print(
            f"LEDGER FAIL: COVERAGE.md header says "
            f"{m.group(1) if m else '<missing>'} queries, registry has "
            f"{len(ledger)} — regenerate the header"
        )
        sys.exit(1)
    mentioned = set(re.findall(r"\bq\d+[ab]?", cov))
    unmentioned = sorted(
        n for n in ledger if re.match(r"(q\d+[ab]?)", n).group(1) not in mentioned
    )
    if unmentioned:
        print(f"LEDGER FAIL: registry queries with no COVERAGE.md row: {unmentioned}")
        sys.exit(1)
    print(f"coverage ok: header count {len(ledger)}, all registry queries mentioned")

    # VERDICT r5 task #6: the S4-S8 ingest anchor must be PINNED in the
    # driver's 50-query prefix every round — an assertion, not a
    # convention.  round_gate fails on this exit code.
    import __spark_entry__ as e

    prefix = list(e.queries().keys())[:50]
    if "q169_ingest_lifecycle" not in prefix:
        print("LEDGER FAIL: q169_ingest_lifecycle not pinned in the 50-query prefix")
        sys.exit(1)
    print("prefix pin ok: q169_ingest_lifecycle in driver prefix")


if __name__ == "__main__":
    main()
