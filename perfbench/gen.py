"""Seeded generator for the hospital feeds (FIXTURES.md F1/F2) and a
pure-Python model of what the engine's loaders must do with them.

Every drop has the same number of rows of each edge kind, so every seed
does the same work; the seed only moves which rows carry them and the
metric values.  Metric values are multiples of 0.5, so sums are exact in
binary floating point and a recomputation in another engine agrees with
Spark to the last digit.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

# FIXTURES.md F1: the 17 columns the HHS loader consumes.
HHS_ID_COLS = [
    "hospital_pk", "hospital_name", "state", "address", "city", "zip",
    "fips_code", "geocoded_hospital_address", "collection_week",
]
BED_METRIC_COLS = [
    "all_adult_hospital_beds_7_day_avg",
    "all_pediatric_inpatient_beds_7_day_avg",
    "all_adult_hospital_inpatient_bed_occupied_7_day_coverage",
    "all_pediatric_inpatient_bed_occupied_7_day_avg",
    "total_icu_beds_7_day_avg",
    "icu_beds_used_7_day_avg",
    "inpatient_beds_used_covid_7_day_avg",
    "staffed_icu_adult_patients_confirmed_covid_7_day_avg",
]
# The real weekly file has ~100 columns; the loader must ignore the rest.
HHS_EXTRA_COLS = [f"extra_metric_{i:02d}" for i in range(83)]

# FIXTURES.md F2: raw CMS headers, the five used ones plus extras.
CMS_COLS = [
    "Facility ID", "Facility Name", "Address", "City", "State", "ZIP Code",
    "County Name", "Phone Number", "Hospital Type", "Hospital Ownership",
    "Emergency Services", "Hospital overall rating",
    "Hospital overall rating footnote",
]
OWNERSHIPS = [
    "Government - Federal",
    "Government - Hospital District or Authority",
    "Government - Local",
    "Government - State",
    "Proprietary",
    "Voluntary non-profit - Private",
]
HOSPITAL_TYPES = ["Acute Care Hospitals", "Critical Access Hospitals", "Childrens"]
STATES = [
    "AK", "AL", "AR", "AZ", "CA", "CO", "CT", "DC", "DE", "FL", "GA", "HI",
    "IA", "ID", "IL", "IN", "KS", "KY", "LA", "MA", "MD", "ME", "MI", "MN",
    "MO", "MS", "MT", "NC", "ND", "NE", "NH", "NJ", "NM", "NV", "NY", "OH",
    "OK", "OR", "PA", "RI", "SC", "SD", "TN", "TX", "UT", "VA", "VT", "WA",
    "WI", "WV", "WY",
]

HHS_SENTINEL = "-999999"
FIRST_WEEK = dt.date(2020, 1, 3)

# Edge rows per HHS drop, as shares of its hospitals (FIXTURES.md F1 a-e).
HHS_EDGE_SHARES = {
    "dup": 0.01,        # exact in-file copy of another row
    "sentinel": 0.02,   # one metric is -999999 (-> NULL, row kept)
    "empty": 0.02,      # one metric is empty (-> NULL, row kept)
    "negative": 0.01,   # one metric is negative (row quarantined)
    "null_name": 0.005,  # hospital_name empty (row quarantined)
}
# Edge rows per CMS snapshot, as shares of its facilities (F2).
CMS_EDGE_SHARES = {
    "dup": 0.01,            # exact in-file copy
    "not_available": 0.05,  # rating "Not Available" (-> 0)
    "empty_rating": 0.03,   # rating empty (-> NULL)
    "negative": 0.005,      # rating "-1" (row quarantined)
    "null_id": 0.005,       # Facility ID empty (row quarantined)
}
# Share of CMS facilities that never appear in the HHS feed, and the
# first id they take.
CMS_FOREIGN_SHARE = 0.03
FOREIGN_BASE = 900000


def week_date(index: int) -> str:
    return (FIRST_WEEK + dt.timedelta(days=7 * index)).isoformat()


def hospital_pk(i: int) -> str:
    # leading zeros must survive the load as a string key
    return f"{i:06d}"


def _edge_rows(rng: random.Random, n: int, shares: dict[str, float]) -> dict[str, list[int]]:
    """Disjoint row indices per edge kind, with a fixed count per kind."""
    counts = {kind: max(1, round(n * share)) for kind, share in shares.items()}
    picked = rng.sample(range(n), sum(counts.values()))
    out, at = {}, 0
    for kind, c in counts.items():
        out[kind] = sorted(picked[at:at + c])
        at += c
    return out


def _write_csv(header: list[str], rows: list[list[str]]) -> bytes:
    # generated values hold no comma, quote or newline, so no quoting
    lines = [",".join(header)] + [",".join(r) for r in rows]
    return ("\n".join(lines) + "\n").encode()


@dataclass
class HhsDrop:
    """One weekly HHS file: its bytes and its parsed rows (17 columns,
    metrics as float or None, a None name for a NULL name)."""

    week: str
    data: bytes
    rows: list[tuple]


@dataclass
class CmsSnapshot:
    """One CMS quality file and its parsed rows in warehouse column order
    (facility_id, type, ownership, emergency, rating, data_date)."""

    data_date: str
    data: bytes
    rows: list[tuple]


class Feed:
    """Both feeds for one seed.  The same (seed, week, hospitals) always
    gives the same rows, whether written wide (~100 columns, as HHS
    publishes) or narrow (the 17 used columns, for a backfill)."""

    def __init__(self, seed: int):
        self.seed = seed
        self._hospitals: dict[int, list[str]] = {}
        self._facilities: dict[int, tuple[str, str, str]] = {}

    def hospital(self, i: int) -> list[str]:
        """Static attributes of hospital ``i`` (id columns but the week)."""
        if i not in self._hospitals:
            rng = random.Random(f"{self.seed}:hospital:{i}")
            lon = -70.0 - rng.randrange(0, 5000) / 100
            lat = 25.0 + rng.randrange(0, 2000) / 100
            self._hospitals[i] = [
                hospital_pk(i),
                f"Hospital {i} Medical Center",
                rng.choice(STATES),
                f"{rng.randrange(1, 9999)} Main St",
                f"City {rng.randrange(0, 400)}",
                f"{rng.randrange(0, 99999):05d}",
                f"{rng.randrange(1000, 56999):05d}",
                f"POINT ({lon:.2f} {lat:.2f})",
            ]
        return self._hospitals[i]

    def facility(self, i: int) -> tuple[str, str, str]:
        """(hospital type, ownership, emergency services) of facility ``i``."""
        if i not in self._facilities:
            rng = random.Random(f"{self.seed}:facility:{i}")
            self._facilities[i] = (
                rng.choice(HOSPITAL_TYPES), rng.choice(OWNERSHIPS),
                rng.choice(["Yes", "No"]),
            )
        return self._facilities[i]

    def hhs_drop(self, week_index: int, hospitals: range, wide: bool = True) -> HhsDrop:
        """The HHS file for one week covering ``hospitals``."""
        rng = random.Random(f"{self.seed}:hhs:{week_index}:{hospitals.start}")
        week = week_date(week_index)
        ids = list(hospitals)
        edges = _edge_rows(rng, len(ids), HHS_EDGE_SHARES)
        kind_of = {r: kind for kind, rs in edges.items() for r in rs}

        csv_rows: list[list[str]] = []
        parsed: list[tuple] = []
        rnd = rng.random
        for r, i in enumerate(ids):
            static = self.hospital(i)
            metrics: list[float | None] = [
                int(rnd() * 2000) / 2 for _ in BED_METRIC_COLS
            ]
            text = [repr(m) for m in metrics]
            kind = kind_of.get(r)
            if kind is None:
                csv_rows.append(static + [week] + text)
                parsed.append((*static, week, *metrics))
                continue
            static = list(static)
            col = rng.randrange(len(BED_METRIC_COLS))
            if kind == "sentinel":
                text[col], metrics[col] = HHS_SENTINEL, None
            elif kind == "empty":
                text[col], metrics[col] = "", None
            elif kind == "negative":
                metrics[col] = -(rng.randrange(1, 100) / 2)
                text[col] = repr(metrics[col])
            name = static[1]
            if kind == "null_name":
                static[1], name = "", None
            csv_rows.append(static + [week] + text)
            parsed.append((static[0], name, *static[2:], week, *metrics))
        for r in edges["dup"]:
            csv_rows.append(csv_rows[r])
            parsed.append(parsed[r])
        order = list(range(len(csv_rows)))
        rng.shuffle(order)
        if wide:
            # filler values come from their own stream, so the used
            # columns are identical in the wide and narrow forms
            fill = random.Random(f"{self.seed}:fill:{week_index}")
            extras = [str(fill.randrange(0, 1000)) for _ in HHS_EXTRA_COLS]
            header = HHS_ID_COLS + HHS_EXTRA_COLS + BED_METRIC_COLS
            lines = [csv_rows[k][:9] + extras + csv_rows[k][9:] for k in order]
        else:
            header = HHS_ID_COLS + BED_METRIC_COLS
            lines = [csv_rows[k] for k in order]
        return HhsDrop(week, _write_csv(header, lines), [parsed[k] for k in order])

    def hhs_backfill(self, weeks: range, hospitals) -> HhsDrop:
        """Several weeks in one narrow file; ``hospitals(week)`` gives each
        week's hospital range."""
        drops = [self.hhs_drop(w, hospitals(w), wide=False) for w in weeks]
        header = drops[0].data.partition(b"\n")[0]
        body = b"".join(d.data.partition(b"\n")[2] for d in drops)
        return HhsDrop(
            drops[0].week, header + b"\n" + body, [r for d in drops for r in d.rows]
        )

    def cms_snapshot(self, data_date: str, hospitals: range) -> CmsSnapshot:
        """The CMS quality file for one snapshot date."""
        rng = random.Random(f"{self.seed}:cms:{data_date}:{hospitals.start}")
        n_foreign = round(len(hospitals) * CMS_FOREIGN_SHARE)
        ids = list(hospitals)[: len(hospitals) - n_foreign] + [
            FOREIGN_BASE + k for k in range(n_foreign)
        ]
        edges = _edge_rows(rng, len(ids), CMS_EDGE_SHARES)
        kind_of = {r: kind for kind, rs in edges.items() for r in rs}
        csv_rows: list[list[str]] = []
        parsed: list[tuple] = []
        for r, i in enumerate(ids):
            htype, owner, emergency = self.facility(i)
            rating_text = str(rng.randrange(1, 6))
            kind = kind_of.get(r)
            if kind == "not_available":
                rating_text = "Not Available"
            elif kind == "empty_rating":
                rating_text = ""
            elif kind == "negative":
                rating_text = "-1"
            fid = "" if kind == "null_id" else hospital_pk(i)
            rating = (
                0.0 if rating_text == "Not Available"
                else None if rating_text == ""
                else float(rating_text)
            )
            csv_rows.append([
                fid, f"Facility {i}", "1 Main St", "City", "CA", "90001",
                "County", "(555) 555-0100", htype, owner, emergency,
                rating_text, "",
            ])
            parsed.append(
                (fid or None, htype, owner, emergency == "Yes", rating, data_date)
            )
        for r in edges["dup"]:
            csv_rows.append(csv_rows[r])
            parsed.append(parsed[r])
        order = list(range(len(csv_rows)))
        rng.shuffle(order)
        return CmsSnapshot(
            data_date,
            _write_csv(CMS_COLS, [csv_rows[k] for k in order]),
            [parsed[k] for k in order],
        )


@dataclass
class Expected:
    """What a load must report: ``LoadReport`` fields without timing."""

    input_rows: int
    invalid_rows: int
    duplicate_rows: int
    table_rows_added: dict[str, int]


@dataclass
class Model:
    """The warehouse content the loaders must produce, first-wins on
    every natural key (FIXTURES.md F3)."""

    hospitals: dict[str, str] = field(default_factory=dict)
    locations: dict[str, tuple] = field(default_factory=dict)
    beds: dict[tuple[str, str], tuple] = field(default_factory=dict)
    quality: dict[tuple[str, str], tuple] = field(default_factory=dict)

    def load_hhs(self, drop: HhsDrop) -> Expected:
        added = {"hospitals": 0, "hospital_locations": 0, "hospital_bed_information": 0}
        invalid = 0
        for row in drop.rows:
            pk, name, week, metrics = row[0], row[1], row[8], row[9:]
            if name is None or any(m is not None and m < 0 for m in metrics):
                invalid += 1
                continue
            if pk not in self.hospitals:
                self.hospitals[pk] = name
                added["hospitals"] += 1
            if pk not in self.locations:
                self.locations[pk] = row[2:8]
                added["hospital_locations"] += 1
            if (pk, week) not in self.beds:
                self.beds[pk, week] = metrics
                added["hospital_bed_information"] += 1
        n = len(drop.rows)
        return Expected(n, invalid, n - invalid - added["hospital_bed_information"], added)

    def load_cms(self, snap: CmsSnapshot) -> Expected:
        added = invalid = 0
        for row in snap.rows:
            fid, rating = row[0], row[4]
            if fid is None or (rating is not None and rating < 0):
                invalid += 1
                continue
            if (fid, row[5]) not in self.quality:
                self.quality[fid, row[5]] = row
                added += 1
        n = len(snap.rows)
        return Expected(n, invalid, n - invalid - added, {"hospital_quality_information": added})

    def table_rows(self) -> dict[str, int]:
        return {
            "hospitals": len(self.hospitals),
            "hospital_locations": len(self.locations),
            "hospital_bed_information": len(self.beds),
            "hospital_quality_information": len(self.quality),
        }
