"""Pure-Python recomputation of the dashboard queries Q1-Q8b
(plans.hospital_queries) over a ``gen.Model``.

It follows Spark's semantics: NULL operands make a sum term NULL, SUM
skips NULLs, ascending sorts put NULL first, and ``round`` is HALF_UP on
the shortest decimal form of the double.  Generated metrics are
multiples of 0.5, so every sum is exact; only ratios and averages are
compared with a tolerance of one unit in their last rounded digit.
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from gen import Model

QUERIES = ["q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8a", "q8b"]
# queries whose float outputs are rounded ratios or averages
RATIO_QUERIES = {"q5", "q8a", "q8b"}
RATIO_TOL = 1.0001e-4

# metric positions in a bed row (gen.BED_METRIC_COLS order)
ADULT, PED, ADULT_OCC, PED_OCC, ICU, ICU_USED, COVID = range(7)


def spark_round(x: float | None, digits: int) -> float | None:
    if x is None:
        return None
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _add(*vals):
    return None if any(v is None for v in vals) else sum(vals)


class _Sum:
    """SUM over nullable values: NULL when every input was NULL."""

    __slots__ = ("total",)

    def __init__(self):
        self.total = None

    def add(self, v):
        if v is not None:
            self.total = v if self.total is None else self.total + v


def _ratio(used: _Sum, avail: _Sum) -> float | None:
    if used.total is None or avail.total is None:
        return None
    return spark_round(used.total / avail.total, 4)


def _date(s: str) -> dt.date:
    return dt.date.fromisoformat(s)


class DashboardOracle:
    """Expected rows of each query, as tuples in display order."""

    def __init__(self, model: Model):
        self.quality = list(model.quality.values())
        self.hospitals = model.hospitals
        self.locations = model.locations
        self.week_count: dict[str, int] = defaultdict(int)
        # per week: sums for q3/q4 (5 cols), q6 total, q6 covid
        self.week_sums: dict[str, list[_Sum]] = defaultdict(
            lambda: [_Sum() for _ in range(7)]
        )
        # per hospital: [(week, used, available)] for the occupancy joins
        self.by_hospital: dict[str, list] = defaultdict(list)
        for (pk, week), m in model.beds.items():
            self.week_count[week] += 1
            sums = self.week_sums[week]
            for k, col in enumerate((ADULT, PED, ICU, ICU_USED, COVID)):
                sums[k].add(m[col])
            sums[5].add(_add(m[ADULT_OCC], m[PED_OCC], m[ICU_USED]))
            sums[6].add(m[COVID])
            self.by_hospital[pk].append(
                (week, _add(m[ADULT_OCC], m[PED_OCC]), _add(m[ADULT], m[PED]))
            )
        self.weeks = sorted(self.week_count)
        self._memo: dict[tuple, list[tuple]] = {}

    def expected(self, q: str, arg=None) -> list[tuple]:
        key = (q, arg)
        if key not in self._memo:
            self._memo[key] = getattr(self, q)(arg)
        return self._memo[key]

    def _week_sums(self, week: str) -> tuple:
        return tuple(spark_round(s.total, 2) for s in self.week_sums[week][:5])

    def q1(self, week):
        return [(self.week_count.get(week, 0),)]

    def q2(self, before):
        return [(_date(w), self.week_count[w]) for w in self.weeks if w < before]

    def q3(self, week):
        if week not in self.week_count:
            return [(None,) * 5]
        return [self._week_sums(week)]

    def q4(self, _=None, n_weeks: int = 4):
        return [(_date(w), *self._week_sums(w)) for w in self.weeks[-n_weeks:]]

    def q5(self, _=None):
        used, avail = defaultdict(_Sum), defaultdict(_Sum)
        for row in self.quality:
            rating = row[4]
            for _, u, a in self.by_hospital.get(row[0], ()):
                used[rating].add(u)
                avail[rating].add(a)
        ratings = sorted(used, key=lambda r: (r is not None, r or 0.0))
        return [(r, _ratio(used[r], avail[r])) for r in ratings]

    def q6(self, up_to):
        return [
            (
                _date(w),
                spark_round(self.week_sums[w][5].total, 2),
                spark_round(self.week_sums[w][6].total, 2),
            )
            for w in self.weeks
            if w <= up_to
        ]

    def q7(self, _=None, k: int = 20):
        counts: dict[str, int] = defaultdict(int)
        for row in self.quality:
            if row[3] and row[0] in self.hospitals and row[0] in self.locations:
                counts[self.locations[row[0]][0]] += 1
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]

    def q8a(self, ownership):
        used, avail = defaultdict(_Sum), defaultdict(_Sum)
        for row in self.quality:
            if row[2] != ownership:
                continue
            for week, u, a in self.by_hospital.get(row[0], ()):
                used[week].add(u)
                avail[week].add(a)
        return [
            (ownership, _date(w), _ratio(used[w], avail[w])) for w in sorted(used)
        ]

    def q8b(self, data_date, k: int = 10):
        total: dict[str, float] = defaultdict(float)
        count: dict[str, int] = defaultdict(int)
        for row in self.quality:
            if row[5] != data_date or row[4] is None or row[0] not in self.locations:
                continue
            state = self.locations[row[0]][0]
            total[state] += row[4]
            count[state] += 1
        avg = {s: spark_round(total[s] / count[s], 4) for s in total}
        top = sorted(avg.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        bottom = sorted(avg.items(), key=lambda kv: (kv[1], kv[0]))[:k]
        return [(s, a, "top") for s, a in top] + [(s, a, "bottom") for s, a in bottom]


def matches(q: str, got: list[tuple], want: list[tuple]) -> bool:
    """Row-for-row comparison in display order."""
    if len(got) != len(want):
        return False
    tol = RATIO_TOL if q in RATIO_QUERIES else 0.0
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                if abs(a - b) > tol:
                    return False
            elif a != b:
                return False
    return True
