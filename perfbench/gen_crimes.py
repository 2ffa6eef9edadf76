"""Seeded raw Chicago-crimes CSV generator with its own expected answers.

Scales the shape of the app test fixture (``tests/test_app.py``) to the
full 22-column ``CRIMES_RAW_SCHEMA``: dates in ``MM/dd/yyyy hh:mm:ss a``
over 2001-2023 (so the leap-year/range filter drops most rows), all 34
primary types including the 9 the cleaning excludes, injected empty
fields (NULLs after the CSV read) and exact duplicate rows (so ``dropna``
and ``dropDuplicates`` both remove rows).

The expected answers are computed here in plain Python by replaying the
cleaning rules of ``operators.cleaning.clean_crimes`` on the generated
rows, so the benchmark can check the engine's views exactly.

    python3 perfbench/gen_crimes.py --seed 1 --rows 20000 --out .perfbench_work/inputs/example
"""

from __future__ import annotations

import argparse
import csv
import json
import os
import random
from collections import Counter, defaultdict

HEADER = [
    "ID", "Case Number", "Date", "Block", "IUCR", "Primary Type", "Description",
    "Location Description", "Arrest", "Domestic", "Beat", "District", "Ward",
    "Community Area", "FBI Code", "X Coordinate", "Y Coordinate", "Year",
    "Updated On", "Latitude", "Longitude", "Location",
]

# (type, weight, arrest probability)
KEPT_TYPES = [
    ("THEFT", 220, 0.10), ("BATTERY", 180, 0.22), ("CRIMINAL DAMAGE", 110, 0.07),
    ("NARCOTICS", 95, 0.99), ("ASSAULT", 65, 0.20), ("OTHER OFFENSE", 60, 0.18),
    ("BURGLARY", 55, 0.06), ("MOTOR VEHICLE THEFT", 45, 0.08),
    ("DECEPTIVE PRACTICE", 40, 0.15), ("ROBBERY", 38, 0.09),
    ("CRIMINAL TRESPASS", 28, 0.70), ("WEAPONS VIOLATION", 12, 0.80),
    ("PROSTITUTION", 8, 0.99), ("PUBLIC PEACE VIOLATION", 7, 0.60),
    ("OFFENSE INVOLVING CHILDREN", 6, 0.20), ("CRIM SEXUAL ASSAULT", 4, 0.15),
    ("SEX OFFENSE", 4, 0.25), ("INTERFERENCE WITH PUBLIC OFFICER", 3, 0.95),
    ("GAMBLING", 2, 0.99), ("LIQUOR LAW VIOLATION", 2, 0.99), ("ARSON", 2, 0.10),
    ("HOMICIDE", 2, 0.45), ("KIDNAPPING", 1, 0.10), ("INTIMIDATION", 1, 0.15),
    ("STALKING", 1, 0.12),
]
EXCLUDED_TYPES = [
    "HUMAN TRAFFICKING", "NON-CRIMINAL", "NON - CRIMINAL",
    "NON-CRIMINAL (SUBJECT SPECIFIED)", "OTHER NARCOTIC VIOLATION",
    "PUBLIC INDECENCY", "OBSCENITY", "CONCEALED CARRY LICENSE VIOLATION",
    "RITUALISM",
]
TYPES = KEPT_TYPES + [(t, 1, 0.3) for t in EXCLUDED_TYPES]
VIOLENT_TYPES = ("HOMICIDE", "ASSAULT", "ROBBERY")
LOCATIONS = [
    "STREET", "RESIDENCE", "APARTMENT", "SIDEWALK", "OTHER", "PARKING LOT/GARAGE",
    "ALLEY", "SCHOOL, PUBLIC, BUILDING", "RESIDENCE-GARAGE", "SMALL RETAIL STORE",
    "RESTAURANT", "VEHICLE NON-COMMERCIAL", "GROCERY FOOD STORE", "DEPARTMENT STORE",
    "GAS STATION", "RESIDENTIAL YARD (FRONT/BACK)", "PARK PROPERTY", "CTA PLATFORM",
    "COMMERCIAL / BUSINESS OFFICE", "BAR OR TAVERN", "CHA APARTMENT", "DRUG STORE",
    "BANK", "HOSPITAL BUILDING/GROUNDS", "CTA BUS", "CONVENIENCE STORE",
    "HOTEL/MOTEL", "POLICE FACILITY/VEH PARKING LOT", "CHURCH/SYNAGOGUE/PLACE OF WORSHIP",
    "AIRPORT/AIRCRAFT",
]
DESCRIPTIONS = [
    "SIMPLE", "OVER $500", "$500 AND UNDER", "TO PROPERTY", "DOMESTIC BATTERY SIMPLE",
    "AGGRAVATED: HANDGUN", "POSS: CANNABIS 30GMS OR LESS", "FROM BUILDING",
    "RETAIL THEFT", "TO VEHICLE", "FORCIBLE ENTRY", "UNLAWFUL ENTRY",
    "ARMED: HANDGUN", "STRONGARM - NO WEAPON", "TELEPHONE THREAT",
    "FINANCIAL ID THEFT: OVER $300", "AUTOMOBILE", "TO LAND", "RECKLESS HOMICIDE",
    "OTHER VEHICLE OFFENSE/ANY",
]
FBI_CODES = ["01A", "02", "03", "04A", "04B", "05", "06", "07", "08A", "08B", "10",
             "11", "12", "14", "15", "16", "17", "18", "19", "20", "22", "24", "26"]
SEASONS = ("Winter", "Spring", "Summer", "Autumn")
NULL_SHARE = 0.03  # rows with one empty field
DUP_SHARE = 0.02  # exact copies of earlier rows

_TYPE_NAMES = [t for t, _, _ in TYPES]
_TYPE_WEIGHTS = [w for _, w, _ in TYPES]
_ARREST_P = {t: p for t, _, p in TYPES}
_LOC_WEIGHTS = [1.0 / (i + 1) for i in range(len(LOCATIONS))]


def _season(month: int) -> str:
    if month == 12 or month <= 2:
        return "Winter"
    if month <= 5:
        return "Spring"
    if month <= 8:
        return "Summer"
    return "Autumn"


def _row(rng: random.Random, i: int) -> list:
    year = rng.randint(2001, 2023)
    month, day = rng.randint(1, 12), rng.randint(1, 28)
    hour12, minute, second = rng.randint(1, 12), rng.randint(0, 59), rng.randint(0, 59)
    ampm = rng.choice(("AM", "PM"))
    ptype = rng.choices(_TYPE_NAMES, _TYPE_WEIGHTS)[0]
    district = rng.randint(1, 25)
    lat = round(41.64 + rng.random() * 0.38, 9)
    lon = round(-87.94 + rng.random() * 0.42, 9)
    return [
        10_000_000 + i,
        f"JA{i:07d}",
        f"{month:02d}/{day:02d}/{year} {hour12:02d}:{minute:02d}:{second:02d} {ampm}",
        f"{rng.randint(0, 120):03d}XX W STREET {rng.randint(1, 400)}",
        f"{rng.randint(100, 5200):04d}",
        ptype,
        rng.choice(DESCRIPTIONS),
        rng.choices(LOCATIONS, _LOC_WEIGHTS)[0],
        rng.random() < _ARREST_P[ptype],
        rng.random() < 0.15,
        district * 100 + rng.randint(1, 35),
        district,
        rng.randint(1, 50),
        rng.randint(1, 77),
        rng.choice(FBI_CODES),
        float(rng.randint(1_100_000, 1_205_000)),
        float(rng.randint(1_813_000, 1_952_000)),
        year,
        f"{rng.randint(1, 12):02d}/{rng.randint(1, 28):02d}/2024 03:40:{rng.randint(10, 59)} PM",
        lat,
        lon,
        f"({lat}, {lon})",
    ]


def generate_rows(seed: int, rows: int) -> list[list]:
    """``rows`` raw rows, duplicate copies included; ``None`` marks an
    empty CSV field."""
    rng = random.Random(seed)
    out: list[list] = []
    for i in range(rows):
        if out and rng.random() < DUP_SHARE:
            out.append(list(rng.choice(out)))
            continue
        row = _row(rng, i)
        if rng.random() < NULL_SHARE:
            row[rng.randrange(len(row))] = None
        out.append(row)
    return out


def _hour24(date: str) -> int:
    hh = int(date[11:13]) % 12
    return hh + 12 if date.endswith("PM") else hh


def expected_answers(rows: list[list]) -> dict:
    """Replay clean_crimes (dropna -> dropDuplicates -> leap-year and
    2002 < year < 2021 filter -> excluded categories) and aggregate the
    answers every dashboard view must return."""
    seen: set[tuple] = set()
    clean: list[list] = []
    for r in rows:
        if any(v is None for v in r):
            continue
        key = tuple(r)
        if key in seen:
            continue
        seen.add(key)
        date = r[2]
        year = int(date[6:10])
        if not (year % 4 == 0 and 2002 < year < 2021) or r[5] in EXCLUDED_TYPES:
            continue
        clean.append(r)

    by_type = Counter(r[5] for r in clean)
    by_district = Counter(r[11] for r in clean)
    arrested = [r for r in clean if r[8]]
    hour_type = Counter((_hour24(r[2]), r[5]) for r in arrested)
    critical: dict[int, int] = {}
    for (hour, _), n in hour_type.items():
        critical[hour] = max(critical.get(hour, 0), n)
    season: dict[int, Counter] = defaultdict(Counter)
    monthly: Counter = Counter()
    for r in clean:
        year, month = int(r[2][6:10]), int(r[2][0:2])
        season[year][_season(month)] += 1
        monthly[(year, month)] += 1
    locations = Counter(r[7] for r in clean)
    violent = Counter(r[13] for r in clean if r[5] in VIOLENT_TYPES)
    cells: dict[str, list] = {}
    for r in clean:
        c = cells.setdefault(f"{r[11]}|{r[5]}", [0, 0.0, 0.0])
        c[0] += 1
        c[1] += r[19]
        c[2] += r[20]
    return {
        "raw_rows": len(rows),
        "clean_rows": len(clean),
        "counts_by_primary_type": dict(by_type),
        "district_counts": {str(k): v for k, v in by_district.items()},
        "arrest_pct": 100.0 * len(arrested) / len(clean),
        "critical_hours": {str(k): v for k, v in critical.items()},
        "season_pivot": {str(y): [c[s] for s in SEASONS] for y, c in season.items()},
        "monthly_counts": {f"{y}-{m}": n for (y, m), n in monthly.items()},
        "location_counts": dict(locations),
        "violent_area_counts": {str(k): v for k, v in violent.items()},
        "district_type_cells": {
            k: [n, lat / n, lon / n] for k, (n, lat, lon) in cells.items()
        },
    }


def write_csv(rows: list[list], path: str) -> None:
    def cell(v):
        if v is None:
            return ""
        if isinstance(v, bool):
            return "true" if v else "false"
        return v

    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        for r in rows:
            w.writerow([cell(v) for v in r])


def generate(out_dir: str, seed: int, rows: int) -> tuple[str, dict]:
    """Write ``crimes.csv`` and ``expected.json`` under ``out_dir`` once
    per (seed, rows); return (csv path, expected answers)."""
    csv_path = os.path.join(out_dir, "crimes.csv")
    exp_path = os.path.join(out_dir, "expected.json")
    if os.path.exists(exp_path):
        with open(exp_path) as f:
            return csv_path, json.load(f)
    os.makedirs(out_dir, exist_ok=True)
    data = generate_rows(seed, rows)
    expected = expected_answers(data)
    write_csv(data, csv_path + ".tmp")
    os.replace(csv_path + ".tmp", csv_path)
    with open(exp_path + ".tmp", "w") as f:
        json.dump(expected, f)
    os.replace(exp_path + ".tmp", exp_path)
    return csv_path, expected


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    path, expected = generate(args.out, args.seed, args.rows)
    print(path, expected["raw_rows"], expected["clean_rows"])


if __name__ == "__main__":
    main()
