"""``serve``: the reference's ``GET /locations`` read path, one closed-loop
client on a fixed locations lake.

Ops come in decks of 20, each deck a seeded shuffle of a fixed mix: 8
LIMIT/OFFSET pages, 5 keyset pages, 4 five-key point lookups, 2 counts
and 1 small ``merge_into``. A run executes whole decks, so every run
weighs the op types the same. Within a deck, the page starts are spread
over the key range (stratified: one draw in each of equal slices, per
page type), so that each run pages at the same mix of depths. Pages and
lookups are rendered as JSON, as the reference serves them.

The mix is assumed, not taken from a trace. The one write in 20 is the
rare write the read path must tolerate. Offset pages are the largest
share because ``GET /locations?limit=&offset=`` is the reference's only
read API. Keyset pages are the same listing served by seek, and come
next. Point lookups and counts are the ad-hoc reads a client of the
listing makes less often.
"""

from __future__ import annotations

import json
import os
import random

from pyspark.sql import types as T

from file_stream_import_spark.io.csv_ingest import LOCATION_COLUMNS
from file_stream_import_spark.io.versioned import merge_into
from file_stream_import_spark.operators.paginate import (
    paginate,
    paginate_after,
    to_json_page,
)
from lake import bootstrap, check, locid, location_rows
from spans import per_call

LAKE_ROWS = 50_000
PAGE = 10
PROBES = 5
WARM_DECKS = 2
MIX = {"offset_page": 8, "keyset_page": 5, "point_lookup": 4, "count": 2,
       "serve_write": 1}
SCHEMA = T.StructType([T.StructField(c, T.StringType()) for c in LOCATION_COLUMNS])


class Serve:
    ops_per_cycle = sum(MIX.values())

    def __init__(self, spark, tracer, work: str, seed: int) -> None:
        self.spark, self.tr, self.work, self.seed = spark, tracer, work, seed
        self.rng = random.Random(f"serve:{seed}")
        self.deck: list[str] = []
        self.strata: dict[str, list[int]] = {}

    def setup(self, rep: int) -> None:
        self.lake = bootstrap(
            self.spark, os.path.join(self.work, f"lake{rep}"), LAKE_ROWS, self.seed
        )
        self.n = LAKE_ROWS

    def warm(self) -> None:
        """Untimed: whole decks, while the JVM compiles the read path. After
        one op of each type only, measured runs that fit a third deck read
        0.24-0.27 s (latency_s) against 0.30-0.32 s for runs of two."""
        for _ in range(WARM_DECKS * self.ops_per_cycle):
            self.prepare()
            self.op()[1]()

    def prepare(self) -> None:
        if not self.deck:
            self.deck = [k for k, n in MIX.items() for _ in range(n)]
            self.rng.shuffle(self.deck)
            self.strata.clear()
        self.next = self.deck.pop()

    def _start(self, kind: str, hi: int) -> int:
        """A page start in [0, hi), uniform within the next unused of the
        deck's MIX[kind] equal slices of that range."""
        if not self.strata.get(kind):
            self.strata[kind] = self.rng.sample(range(MIX[kind]), MIX[kind])
        width = hi / MIX[kind]
        return int(width * (self.strata[kind].pop() + self.rng.random()))

    def op(self):
        return self.next, getattr(self, self.next)()

    # -- ops: each runs the request and returns its output check ---------

    def _json(self, df, kind: str) -> list[dict]:
        with self.tr.span("operators.paginate.to_json_page", key=kind) as sp:
            rows = json.loads(to_json_page(df))
            sp["rows"] = len(rows)
        return rows

    def _read(self, **kw):
        with self.tr.span("io.versioned.read"):
            return self.lake.read(self.spark, **kw)

    def _page_check(self, rows, first: int):
        def verify() -> None:
            want = [locid(i) for i in range(first, min(first + PAGE, self.n + 1))]
            got = [r["locid"] for r in rows]
            check(len(got) <= PAGE, f"page of {len(got)} rows")
            check(all(a < b for a, b in zip(got, got[1:])), "page out of key order")
            check(got == want, f"page from {first}: {got[:2]}.. != {want[:2]}..")
        return verify

    def keyset_page(self):
        k = 1 + self._start("keyset_page", self.n - PAGE - 1)
        df = self._read()
        with self.tr.span("operators.paginate.paginate_after"):
            df = paginate_after(df, "locid", locid(k), PAGE)
        rows = self._json(df, "keyset_page")
        return self._page_check(rows, k + 1)

    def offset_page(self):
        off = self._start("offset_page", self.n - PAGE)
        df = self._read()
        with self.tr.span("operators.paginate.paginate"):
            df = paginate(df, ["locid"], PAGE, off)
        rows = self._json(df, "offset_page")
        return self._page_check(rows, off + 1)

    def point_lookup(self):
        ids = [self.rng.randrange(1, self.n + 1) for _ in range(PROBES - 1)]
        ids.append(self.n + self.rng.randrange(1, 1000))  # absent key
        probe = [locid(i) for i in ids]
        rows = self._json(self._read(where={"locid": probe}), "point_lookup")

        def verify() -> None:
            want = sorted({locid(i) for i in ids if i <= self.n})
            check(sorted(r["locid"] for r in rows) == want, f"lookup {probe}")
        return verify

    def count(self):
        n = self._read().count()
        expect = self.n
        return lambda: check(n == expect, f"count {n} != {expect}")

    def serve_write(self):
        ids = [self.rng.randrange(1, self.n + 1) for _ in range(4)]
        ids = sorted(set(ids)) + [self.n + 1]
        df = self.spark.createDataFrame(location_rows(self.rng, ids), SCHEMA)
        before = self.lake.latest_version()
        with self.tr.span("io.versioned.merge_into", watch=[self.lake.path]):
            v = merge_into(self.lake, self.spark, df, "locid")
        self.n += 1
        return lambda: check(v == before + 1, f"merge committed v{v} after v{before}")

    def final_checks(self):
        return []

    def report(self, samples) -> dict:
        return {}

    def layer_metrics(self, spans) -> dict:
        pages = [s for s in spans if s["name"] == "operators.paginate.to_json_page"]
        examined = sum(s["input_records"] for s in pages)
        m = {
            "io.versioned.read.s": per_call(spans, "io.versioned.read", "s"),
            "io.versioned.read.py4j": per_call(spans, "io.versioned.read", "py4j"),
            "io.versioned.read.rows_examined_per_row_returned":
                examined / sum(s["rows"] for s in pages),
            "operators.paginate.paginate.s":
                per_call(spans, "operators.paginate.paginate", "s"),
            "operators.paginate.paginate_after.s":
                per_call(spans, "operators.paginate.paginate_after", "s"),
        }
        for f in ("s", "jobs", "tasks", "exec_cpu_s"):
            m[f"operators.paginate.to_json_page.{f}"] = per_call(
                spans, "operators.paginate.to_json_page", f
            )
        for f in ("s", "py4j", "jobs", "bytes_written"):
            m[f"io.versioned.merge_into.{f}"] = per_call(
                spans, "io.versioned.merge_into", f
            )
        return m
