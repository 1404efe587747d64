"""Locations lake shared by the ``ingest`` and ``serve`` workloads.

The lake holds locids ``LOC000000000001`` .. ``LOC<n>`` with no gaps: the
bootstrap writes 1..n and every later write updates existing locids or
appends the next ones. The expected answer to any page, lookup or count
therefore follows from n alone.
"""

from __future__ import annotations

import csv
import random

from file_stream_import_spark.io.csv_ingest import LOCATION_COLUMNS
from file_stream_import_spark.io.generator import (
    BUSINESSES,
    COUNTRIES,
    LOCNAMES,
    TIMEZONES,
    generate_locations,
)
from file_stream_import_spark.io.versioned import VersionedTable

HEADER = tuple(c.upper() for c in LOCATION_COLUMNS)  # the reference's header


class Mismatch(Exception):
    """An output that disagrees with what the inputs imply."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise Mismatch(what)


def locid(i: int) -> str:
    return f"LOC{i:012d}"


def bootstrap(spark, path: str, n_rows: int, seed: int) -> VersionedTable:
    lake = VersionedTable(path)
    lake.commit(generate_locations(spark, n_rows, seed=seed), mode="overwrite")
    return lake


def location_rows(rng: random.Random, ids) -> list[tuple[str, ...]]:
    return [
        (
            locid(i),
            rng.choice(TIMEZONES),
            rng.choice(COUNTRIES),
            f"{rng.choice(LOCNAMES)}_{rng.randrange(1000)}",
            f"{rng.choice(BUSINESSES)}_{rng.randrange(1000)}",
        )
        for i in ids
    ]


def write_csv(path: str, rows) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(rows)
