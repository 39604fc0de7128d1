"""Deterministic reference-shaped fixture (FIXTURES.md §A): a
Chicago-crimes-like CSV with string dates, plus the community-area
dimension table. seed=42."""

from __future__ import annotations

import csv
import random
from datetime import datetime, timedelta

PRIMARY_TYPES = [
    "ROBBERY",
    "ASSAULT",
    "BATTERY",
    "HOMICIDE",
    "CRIMINAL SEXUAL ASSAULT",
    "THEFT",
    "NARCOTICS",
    "BURGLARY",
    "MOTOR VEHICLE THEFT",
    "DECEPTIVE PRACTICE",
]
ROBBERY_DESCS = [
    "ARMED: HANDGUN",
    "ARMED: KNIFE / CUTTING INSTRUMENT",
    "STRONG ARM - NO WEAPON",
    "ATTEMPT: STRONG ARM",
]
OTHER_DESCS = ["SIMPLE", "AGGRAVATED", "DOMESTIC", "OTHER"]
LOCATIONS = ["STREET", "RESIDENCE", "APARTMENT", "SIDEWALK", "PARK"]

COLUMNS = [
    "id", "case_number", "date", "block", "iucr", "primary_type",
    "description", "location_description", "arrest", "domestic", "beat",
    "district", "ward", "community_area", "fbi_code", "x_coordinate",
    "y_coordinate", "year", "updated_on", "latitude", "longitude",
    "location",
]


def _fmt(dt: datetime) -> str:
    # 'MM/dd/yyyy hh:mm:ss a' — 12-hour with AM/PM, zero-padded
    return dt.strftime("%m/%d/%Y %I:%M:%S %p")


def generate_crimes_rows(n: int = 4000, seed: int = 42) -> list[dict]:
    rng = random.Random(seed)
    rows = []
    base = datetime(2018, 1, 1)
    for i in range(n):
        dt = base + timedelta(
            days=rng.randint(0, 6 * 365), seconds=rng.randint(0, 86399)
        )
        ptype = rng.choice(PRIMARY_TYPES)
        desc = rng.choice(ROBBERY_DESCS if ptype == "ROBBERY" else OTHER_DESCS)
        upd = dt + timedelta(days=rng.randint(0, 30))
        lat = 41.6 + rng.random() * 0.5
        lon = -87.9 + rng.random() * 0.4
        rows.append(
            {
                "id": 100000 + i,
                "case_number": f"HY{rng.randint(100000, 999999)}",
                "date": _fmt(dt),
                "block": f"0{rng.randint(10, 99)}XX W OHIO ST",
                "iucr": f"{rng.randint(1000, 9999)}",
                "primary_type": ptype,
                "description": desc,
                "location_description": rng.choice(LOCATIONS),
                "arrest": rng.random() < 0.25,
                "domestic": rng.random() < 0.15,
                "beat": rng.randint(100, 2500),
                "district": rng.randint(1, 25) if rng.random() > 0.01 else None,
                "ward": rng.randint(1, 50) if rng.random() > 0.01 else None,
                "community_area": (
                    rng.randint(1, 77) if rng.random() > 0.02 else None
                ),
                "fbi_code": f"{rng.randint(1, 26):02d}",
                "x_coordinate": 1.1e6 + rng.random() * 1e5,
                "y_coordinate": 1.8e6 + rng.random() * 1.5e5,
                "year": dt.year,
                "updated_on": _fmt(upd),
                "latitude": lat,
                "longitude": lon,
                "location": f"({lat:.6f}, {lon:.6f})",
            }
        )
    # ~2% re-delivered ids with newer updated_on (Socrata re-delivery)
    for i in range(0, n, 50):
        dup = dict(rows[i])
        dup["updated_on"] = _fmt(
            datetime.strptime(dup["updated_on"], "%m/%d/%Y %I:%M:%S %p")
            + timedelta(days=5)
        )
        rows.append(dup)
    return rows


def write_crimes_csv(path: str, rows: list[dict]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=COLUMNS)
        w.writeheader()
        for r in rows:
            w.writerow(r)


def community_area_rows(seed: int = 42) -> list[dict]:
    rng = random.Random(seed + 1)
    sides = ["North", "South", "West", "Central", "Far North", "Southwest"]
    return [
        {
            "community_area": i,
            "name": f"AREA_{i:02d}",
            "side": rng.choice(sides),
            "population": rng.randint(10_000, 100_000),
        }
        for i in range(1, 78)
    ]


def write_community_areas_csv(path: str) -> None:
    rows = community_area_rows()
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0]))
        w.writeheader()
        w.writerows(rows)
