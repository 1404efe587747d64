"""``ingest``: the reference's write path as a lake stream.

Set-up bootstraps a locations lake and a per-country count MV. Each op is
one wave: seeded CSV files land in a drop directory (updates to locids
drawn uniformly from the whole key range, plus inserts of new locids;
the even split between the two is assumed, not measured),
one availableNow stream pass merges them through the exactly-once table
writer, and ``refresh_mv`` folds the change into the MV. The op ends when
the wave is visible in both.
"""

from __future__ import annotations

import os
import random
import statistics

from file_stream_import_spark.io.csv_ingest import ingest_locations_stream
from file_stream_import_spark.io.versioned import (
    VersionedTable,
    make_idempotent_table_writer,
)
from file_stream_import_spark.operators.mv import refresh_mv
from lake import bootstrap, check, location_rows, write_csv
from spans import dir_state, per_call, recorded, written_since

LAKE_ROWS = 50_000
WAVE_UPDATES = 2_500
WAVE_INSERTS = 2_500
WAVE_FILES = 4
# The first waves of a session run slow while the JVM compiles the write
# path (3.0 s falling to 2.2 s over the first six waves on a 4-vCPU VM).
WARM_WAVES = 5
QUERY = "perfbench_ingest"


class Ingest:
    # Waves take seconds each: runs measure whole cycles of three, so the
    # median wave of a run never rests on one or two readings.
    ops_per_cycle = 3

    def __init__(self, spark, tracer, work: str, seed: int) -> None:
        self.spark, self.tr, self.work, self.seed = spark, tracer, work, seed
        self.wave = 0
        self.batch_ids: list[int] = []
        self.csv_bytes = 0
        self.bytes_written = 0

    def setup(self, rep: int) -> None:
        root = os.path.join(self.work, f"setup{rep}")
        self.lake = bootstrap(self.spark, os.path.join(root, "lake"), LAKE_ROWS, self.seed)
        self.mv = VersionedTable(os.path.join(root, "mv"))
        self._refresh()
        self.n = LAKE_ROWS
        self.drop = os.path.join(root, "drop")
        self.stage = os.path.join(root, "stage")
        self.ckpt = os.path.join(root, "ckpt")
        os.makedirs(self.drop)
        os.makedirs(self.stage)
        self.writer = make_idempotent_table_writer(self.lake, QUERY, key="locid")

    def _refresh(self) -> None:
        refresh_mv(
            self.lake, self.mv, self.spark, name="country_counts",
            group_cols=["country"], sum_cols=[], key="locid",
        )

    def warm(self) -> None:
        for _ in range(WARM_WAVES):
            self.prepare()
            self.op()[1]()

    def prepare(self) -> None:
        """Stage the next wave's CSV files (not timed)."""
        rng = random.Random(f"ingest:{self.seed}:{self.wave}")
        ids = rng.sample(range(1, self.n + 1), WAVE_UPDATES)
        ids += range(self.n + 1, self.n + 1 + WAVE_INSERTS)
        rng.shuffle(ids)
        rows = location_rows(rng, ids)
        self.staged = []
        for f in range(WAVE_FILES):
            name = f"wave{self.wave:05d}-{f}.csv"
            path = os.path.join(self.stage, name)
            write_csv(path, rows[f::WAVE_FILES])
            self.csv_bytes += os.path.getsize(path)
            self.staged.append(name)
        self.n += WAVE_INSERTS
        self.fs_before = dir_state([self.lake.path, self.mv.path])

    def _write(self, batch_df, batch_id: int) -> None:
        with self.tr.span("io.versioned.table_writer", key=self.wave,
                          watch=[self.lake.path]):
            self.writer(batch_df, batch_id)
        self.batch_ids.append(batch_id)

    def op(self):
        for name in self.staged:
            os.rename(os.path.join(self.stage, name), os.path.join(self.drop, name))
        with self.tr.span("streaming.pass", key=self.wave):
            q = (
                ingest_locations_stream(self.spark, self.drop)
                .writeStream.foreachBatch(self._write)
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        with self.tr.span("operators.mv.refresh_mv", watch=[self.mv.path]):
            self._refresh()
        self.wave += 1
        return "ingest_wave", self._verify

    def _verify(self) -> None:
        b, _ = written_since(self.fs_before, dir_state([self.lake.path, self.mv.path]))
        self.bytes_written += b

    def final_checks(self):
        def lake_rows() -> None:
            n = self.lake.read(self.spark).count()
            check(n == self.n, f"lake holds {n} rows, expected {self.n}")

        def mv_counts() -> None:
            truth = {
                r["country"]: r["count"]
                for r in self.lake.read(self.spark).groupBy("country").count().collect()
            }
            mv = {r["country"]: r["n_rows"] for r in self.mv.read(self.spark).collect()}
            check(mv == truth, f"MV {mv} != groupBy {truth}")

        def replay() -> None:
            before = self.lake.latest_version()
            replayed = self.lake.read(self.spark).limit(3)
            self.writer(replayed, max(self.batch_ids))
            after = self.lake.latest_version()
            check(after == before, f"replayed batch committed v{after}")

        return [("lake_rows", lake_rows), ("mv_counts", mv_counts), ("replay", replay)]

    def report(self, samples) -> dict:
        waves = [s for k, s in samples if k == "ingest_wave"]
        live = sum(
            r["n_bytes"] for r in self.lake.inspect_files(self.spark).collect()
        )
        on_disk = sum(st[0] for st in dir_state([self.lake.path]).values())
        rows = (WAVE_UPDATES + WAVE_INSERTS) * len(waves)
        self.amp = {
            "io.versioned.write_amp": self.bytes_written / self.csv_bytes,
            "io.versioned.space_amp": on_disk / live,
        }
        return {
            "ingest_rows_per_s": (rows / sum(waves) if waves else 0.0, "1/s"),
            "write_amp": (self.amp["io.versioned.write_amp"], "ratio"),
            "space_amp": (self.amp["io.versioned.space_amp"], "ratio"),
        }

    def layer_metrics(self, spans) -> dict:
        m = dict(self.amp)
        for f in ("s", "py4j", "jobs", "tasks", "exec_cpu_s", "shuffle_write_bytes",
                  "bytes_written", "files_written"):
            m[f"io.versioned.table_writer.{f}"] = per_call(
                spans, "io.versioned.table_writer", f
            )
        for f in ("s", "py4j", "jobs", "exec_cpu_s", "bytes_written"):
            m[f"operators.mv.refresh_mv.{f}"] = per_call(
                spans, "operators.mv.refresh_mv", f
            )
        trigger, batches = [], []
        for p in recorded(spans, "streaming.pass", "s"):
            w = [s["s"] for s in spans
                 if s["name"] == "io.versioned.table_writer" and s["key"] == p["key"]]
            trigger.append(p["s"] - sum(w))
            batches.append(len(w))
        m["streaming.trigger_s"] = statistics.median(trigger)
        m["streaming.batches"] = statistics.median(batches)
        return m
