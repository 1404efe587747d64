"""r14: changefeed/CDF planning served from the history checkpoint.

Long version ranges plan per-version partitions from checkpoint rows
(mode + added, a few hundred bytes each) instead of parsing every
interim manifest (full group list + per-group stats — the measured
long-backfill residual at 400-group tables). The invariants:

* the checkpoint-served plan is IDENTICAL to the manifest-walked plan;
* rename-bearing ranges still synthesize routing for groups dead
  before the rename (the skip retro-walks once a setter mode appears);
* a vacuum-expired version with a stale checkpoint row raises the
  documented remedy, not silent rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import file_stream_import_spark.io.pysource as ps
from file_stream_import_spark.io.pysource import (
    TableChangefeedBatchReader,
)
from file_stream_import_spark.io.versioned import (
    VersionedTable,
    merge_into,
)


def _mk_history(spark, tmp_path, n_appends=12):
    """v0 overwrite, one merge, then single-row appends — a range
    comfortably past _CKPT_PLAN_MIN with a non-append in the middle."""
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [(i, "a", i * 10) for i in range(1, 6)],
            "k long, g string, x long",
        ),
        mode="overwrite",
    )
    merge_into(
        t, spark,
        spark.createDataFrame(
            [(1, "a", 999)], "k long, g string, x long"
        ),
        key="k",
    )
    for i in range(n_appends):
        t.commit(
            spark.createDataFrame(
                [(100 + i, "b", i)], "k long, g string, x long"
            ),
            mode="append",
        )
    t._extend_checkpoint(t.latest_version())
    return t


def _plan_key(p):
    return (
        str(getattr(p, "file_path", None)),
        str(getattr(p, "version", None)),
        str(getattr(p, "commit_version", None)),
    )


def _plan(t, **extra):
    r = TableChangefeedBatchReader(
        {
            "path": t.path,
            "readchangedata": "true",
            "key": "k",
            "startingversion": "0",
            **extra,
        }
    )
    return r.partitions()


class TestCheckpointServedPlan:
    def test_plan_identical_with_and_without_rows(
        self, spark, tmp_path, monkeypatch
    ):
        t = _mk_history(spark, tmp_path)
        served = _plan(t)
        monkeypatch.setattr(
            ps, "_plan_rows", lambda *a, **k: (None, None)
        )
        walked = _plan(t)
        assert sorted(map(_plan_key, served)) == sorted(
            map(_plan_key, walked)
        )
        # the plan actually fans out: appends per file + one diff task
        assert len(served) >= 13

    def test_row_served_read_matches_manifest_read(
        self, spark, tmp_path, monkeypatch
    ):
        t = _mk_history(spark, tmp_path)
        spark.dataSource.register(ps.TableChangefeedDataSource)

        def read_all():
            return sorted(
                tuple(r)
                for r in spark.read.format("table_changefeed")
                .option("path", t.path)
                .option("readchangedata", "true")
                .option("key", "k")
                .option("startingversion", "0")
                .load()
                .collect()
            )

        a = read_all()
        assert len(a) > 0
        # the same read with row-serving disabled must be identical
        # (the datasource re-imports in the python worker, so patch
        # via the threshold instead)
        monkeypatch.setattr(ps, "_CKPT_PLAN_MIN", 10**9)
        b = read_all()
        assert a == b

    def test_rename_in_range_keeps_dead_group_routing(
        self, spark, tmp_path, monkeypatch
    ):
        """The retro-walk: a group rewritten away BEFORE a rename has
        no recorded colmap entry; its replay must still surface values
        under the post-rename name even when planning from checkpoint
        rows (the pre-rename versions' modes are plain non-setters the
        fast path would otherwise skip)."""
        t = VersionedTable(str(tmp_path / "tr"))
        t.commit(
            spark.createDataFrame(
                [(1, "a", 10), (2, "a", 20)], "k long, g string, c long"
            ),
            mode="overwrite",
        )                                                   # v0
        merge_into(  # rewrites v0's only group away
            t, spark,
            spark.createDataFrame(
                [(1, "a", 11)], "k long, g string, c long"
            ),
            key="k",
        )                                                   # v1
        for i in range(8):  # pad the range past _CKPT_PLAN_MIN
            t.commit(
                spark.createDataFrame(
                    [(50 + i, "b", i)], "k long, g string, c long"
                ),
                mode="append",
            )                                               # v2..v9
        t.rename_column("c", "pennies")                     # v10
        t._extend_checkpoint(t.latest_version())
        spark.dataSource.register(ps.TableChangefeedDataSource)
        got = (
            spark.read.format("table_changefeed")
            .option("path", t.path)
            .option("readchangedata", "true")
            .option("key", "k")
            .option("startingversion", "0")
            .load()
        )
        v0_rows = sorted(
            (r["k"], r["pennies"])
            for r in got.filter(
                (F.col("_commit_version") == 0)
                & (F.col("_change_type") == "insert")
            ).collect()
        )
        # the dead group's values must flow under the pinned name
        assert v0_rows == [(1, 10), (2, 20)]

    def test_stale_row_for_expired_version_raises_remedy(
        self, spark, tmp_path
    ):
        t = _mk_history(spark, tmp_path)
        # vacuum expires the prefix; the checkpoint TRIM is bypassed
        # by re-extending from a stale segment write to simulate the
        # resurrected-row race the docstrings describe
        import json
        import os

        ck_rows = t._read_checkpoint()["rows"]
        t.vacuum(keep_versions=3, min_age_seconds=0)
        seg_dir = os.path.join(t.path, "_manifests", "_history_segs")
        os.makedirs(seg_dir, exist_ok=True)
        upto = int(ck_rows[-1]["version"])
        with open(
            os.path.join(seg_dir, f"seg-{upto:010d}.json"), "w"
        ) as f:
            json.dump(
                {"from": 0, "upto": upto, "rows": ck_rows}, f
            )
        with pytest.raises(Exception, match="expired by vacuum"):
            _plan(t)


class TestAdmissionFromRows:
    def test_admitted_end_matches_manifest_walk(
        self, spark, tmp_path, monkeypatch
    ):
        """The files/bytes admission walk over a long backlog admits
        the SAME end offset whether it reads checkpoint rows or parses
        each manifest."""
        t = _mk_history(spark, tmp_path, n_appends=14)
        lo, head = 0, t.latest_version() + 1
        cases = [
            dict(max_versions=0, max_files=3, max_bytes=0),
            dict(max_versions=0, max_files=0, max_bytes=4096),
            dict(max_versions=0, max_files=5, max_bytes=1 << 20),
        ]
        served = [
            ps._admitted_end(t.path, lo, head, **c) for c in cases
        ]
        monkeypatch.setattr(
            ps, "_plan_rows", lambda *a, **k: (None, None)
        )
        walked = [
            ps._admitted_end(t.path, lo, head, **c) for c in cases
        ]
        assert served == walked
        assert all(lo < e <= head for e in served)


class TestTriggerBounds:
    @pytest.mark.parametrize(
        "opt",
        ["maxversionspertrigger", "maxfilespertrigger", "maxbytespertrigger"],
    )
    def test_negative_bound_raises(self, spark, tmp_path, opt):
        """A negative bound is rejected instead of read as a limit
        already exceeded (which admitted one version per batch); 0
        stays unbounded."""
        t = _mk_history(spark, tmp_path, n_appends=0)
        with pytest.raises(ValueError, match=opt):
            ps.TableChangefeedPartitionedReader({"path": t.path, opt: "-1"})
        ps.TableChangefeedPartitionedReader({"path": t.path, opt: "0"})

    @pytest.mark.parametrize(
        "opt, raw",
        [
            ("maxversionspertrigger", "1e3"),
            ("maxfilespertrigger", "2.5"),
            ("maxbytespertrigger", "1.5g"),
            ("maxbytespertrigger", "64x"),
        ],
    )
    def test_malformed_bound_raises_naming_the_option(self, opt, raw):
        with pytest.raises(ValueError, match=opt):
            ps._trigger_limits({opt: raw})

    def test_byte_bound_reads_spark_byte_strings(self):
        assert ps._trigger_limits(
            {"maxfilespertrigger": "3", "maxbytespertrigger": "64m"}
        ) == (0, 3, 64 << 20)

    def test_byte_parser_matches_spark(self, spark):
        """The pure-Python parser (the streaming-source worker has no
        JVM) reads every string as JavaUtils.byteStringAsBytes does,
        rejections included."""
        from pyspark.errors import IllegalArgumentException

        from file_stream_import_spark.io.tables import _parse_bytes

        jutils = spark._jvm.org.apache.spark.network.util.JavaUtils
        for raw in [
            "64m", "134217728b", "1t", " 5G ", "0", "7", "1k", "1KB",
            "2mb", "3gb", "1tb", "1p", "1pb", "\t8m\n", "08k",
            "9223372036854775807", "8191p",
            "9223372036854775808", "8192p", "1.5g", "1e3", "-1", "+1",
            "", "m", "10x", "1 m", "1kib",
        ]:
            try:
                want = int(jutils.byteStringAsBytes(raw))
            except IllegalArgumentException:  # NumberFormatException too
                want = ValueError
            try:
                got = _parse_bytes(raw)
            except ValueError:
                got = ValueError
            assert got == want, raw


class TestPlanCostBounded:
    """Default-tier pin of the checkpoint-served plan's cost: over a
    backfill whose history the checkpoint covers, planning parses a
    fixed number of manifests however long the history grows (the
    manifest walk parses one per version). Timed at scale by
    ``b195d10:tools/ab_cdf_plan.py``: a 302-version backfill of a
    401-group table planned in 0.503 s / 138 manifest parses served vs
    2.368 s / 908 walked, the same 1,003 partitions."""

    def test_plan_manifest_loads_do_not_grow_with_history(
        self, spark, tmp_path, monkeypatch
    ):
        t = _mk_history(spark, tmp_path, n_appends=0)
        row = (
            spark.createDataFrame([(0, "b", 0)], "k long, g string, x long")
            .coalesce(1)
            .localCheckpoint(eager=True)
        )

        def grow(n: int) -> None:
            for _ in range(n):
                v = t.latest_version()
                t.commit(
                    row.select((F.col("k") + 100 + v).alias("k"), "g", "x"),
                    mode="append",
                )
            t._extend_checkpoint(t.latest_version())

        def plan_loads():
            loads = [0]
            orig = VersionedTable._load_manifest

            def counting(self, v):
                loads[0] += 1
                return orig(self, v)

            with monkeypatch.context() as m:
                m.setattr(VersionedTable, "_load_manifest", counting)
                parts = _plan(t)
            return loads[0], len(parts)

        grow(8)
        short, short_parts = plan_loads()
        grow(8)
        long_, long_parts = plan_loads()
        assert long_parts == short_parts + 8  # the plan did grow
        assert long_ == short
