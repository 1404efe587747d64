"""Streaming change-data-feed (r12): ``readchangedata=true`` makes the
changefeed EXPLAIN non-append commits as row-level deltas (Delta's
readChangeFeed) instead of rejecting them — including the rewrite
publish (``publish_branch_rewrite:``) the r11 changefeed could only
skip with ignorechanges. The stream reader computes each diff in an
executor task with the pyarrow kernel io/pysource._cdf_diff_arrow, the
stream twin of snapshot_diff."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    VersionedTable,
    merge_into,
)


def _mk(spark, tmp_path, rows, name="t"):
    t = VersionedTable(str(tmp_path / name))
    t.commit(
        spark.createDataFrame(rows, "k long, v long"), mode="overwrite"
    )
    return t


def _drain_cdf(spark, path, tmp_path, **opts):
    from file_stream_import_spark.io.pysource import (
        TableChangefeedDataSource,
    )

    spark.dataSource.register(TableChangefeedDataSource)
    batches: list[tuple[int, list]] = []
    r = (
        spark.readStream.format("table_changefeed")
        .option("path", path)
        .option("readchangedata", "true")
        .option("key", "k")
        .option("maxversionspertrigger", "1")
    )
    for k, v in opts.items():
        r = r.option(k, str(v))
    q = (
        r.load()
        .writeStream.foreachBatch(
            lambda df, b: batches.append(
                sorted(
                    (
                        x["k"],
                        x["v"],
                        x["_change_type"],
                        x["_commit_version"],
                    )
                    for x in df.collect()
                )
            )
        )
        .option(
            "checkpointLocation",
            str(tmp_path / f"ckpt_{len(str(tmp_path))}"),
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return [b for b in batches if b]


class TestCdfRows:
    @pytest.mark.parametrize("reader", ["partitioned"])
    def test_insert_update_delete_shapes(self, spark, tmp_path, reader):
        t = _mk(spark, tmp_path, [(1, 10), (2, 20), (3, 30)], reader)
        t.commit(
            spark.createDataFrame([(4, 40)], "k long, v long"),
            mode="append",
        )
        merge_into(
            t, spark,
            spark.createDataFrame([(2, 99)], "k long, v long"),
            key="k",
        )
        t.delete_where(spark, F.col("k") == 3)
        got = _drain_cdf(spark, t.path, tmp_path)
        assert got == [
            [(1, 10, "insert", 0), (2, 20, "insert", 0),
             (3, 30, "insert", 0)],
            [(4, 40, "insert", 1)],
            [(2, 20, "update_preimage", 2),
             (2, 99, "update_postimage", 2)],
            [(3, 30, "delete", 3)],
        ]

    def test_rewrite_publish_streams_as_cdf(self, spark, tmp_path):
        """The r11 gap: a publish_branch_rewrite: killed any changefeed
        without ignorechanges. Under CDF it streams as the exact row
        delta the audited branch applied."""
        t = _mk(spark, tmp_path, [(1, 10), (2, 20), (3, 30)])
        b = t.create_branch("audit")
        b.delete_where(spark, F.col("k") < 3)
        pv = t.publish_branch("audit")
        assert t._load_manifest(pv)["mode"] == (
            "publish_branch_rewrite:audit"
        )
        got = _drain_cdf(spark, t.path, tmp_path)
        assert got == [
            [(1, 10, "insert", 0), (2, 20, "insert", 0),
             (3, 30, "insert", 0)],
            [(1, 10, "delete", 1), (2, 20, "delete", 1)],
        ]

    def test_compaction_diffs_to_zero_rows(self, spark, tmp_path):
        """OPTIMIZE/compact rewrites files but no rows: CDF emits
        nothing for it — Delta's semantics, and the reason CDF beats
        ignorechanges (which re-emits rewritten rows)."""
        t = _mk(spark, tmp_path, [(1, 10)])
        t.commit(
            spark.createDataFrame([(2, 20)], "k long, v long"),
            mode="append",
        )
        t.compact(spark, min_bytes=1 << 30)
        assert str(
            t._load_manifest(t.latest_version())["mode"]
        ).startswith("compact")
        got = _drain_cdf(spark, t.path, tmp_path)
        assert got == [
            [(1, 10, "insert", 0)],
            [(2, 20, "insert", 1)],
        ]

    def test_rollback_streams_the_revert_delta(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, 10)])
        t.commit(
            spark.createDataFrame([(2, 20)], "k long, v long"),
            mode="append",
        )
        t.rollback(0)
        got = _drain_cdf(spark, t.path, tmp_path)
        assert got == [
            [(1, 10, "insert", 0)],
            [(2, 20, "insert", 1)],
            [(2, 20, "delete", 2)],
        ]


class TestCdfContract:
    def test_requires_key(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = _mk(spark, tmp_path, [(1, 10)])
        with pytest.raises(Exception, match="requires .*key"):
            (
                spark.readStream.format("table_changefeed")
                .option("path", t.path)
                .option("readchangedata", "true")
                .load()
            )

    def test_mutually_exclusive_with_ignorechanges(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = _mk(spark, tmp_path, [(1, 10)])
        with pytest.raises(Exception, match="mutually exclusive"):
            (
                spark.readStream.format("table_changefeed")
                .option("path", t.path)
                .option("readchangedata", "true")
                .option("key", "k")
                .option("ignorechanges", "true")
                .load()
            )

    def test_mor_delete_entries_raise_with_remedy(self, spark, tmp_path):
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        t = _mk(spark, tmp_path, [(1, 10), (2, 20)])
        t.delete_where(
            spark, F.col("k") == 1,
            strategy="merge-on-read", key_cols=["k"],
        )
        # the MoR commit itself is a rewrite of intent the file-diff
        # can't see; the kernel refuses with the compact()/batch remedy
        with pytest.raises(
            StreamingQueryException, match="merge-on-read"
        ):
            _drain_cdf(spark, t.path, tmp_path)

    def test_duplicate_keys_raise(self, spark, tmp_path):
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        t = _mk(spark, tmp_path, [(1, 10), (1, 11)])
        t.commit(
            spark.createDataFrame([(9, 90)], "k long, v long"),
            mode="overwrite",
        )
        with pytest.raises(
            StreamingQueryException, match="duplicate keys"
        ):
            _drain_cdf(spark, t.path, tmp_path)

    def test_schema_gains_metadata_columns(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = _mk(spark, tmp_path, [(1, 10)])
        df = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .option("readchangedata", "true")
            .option("key", "k")
            .load()
        )
        assert df.columns == ["k", "v", "_change_type", "_commit_version"]


class TestCdfEvolutionAndNestedTypes:
    def test_cdf_through_rename_uses_pinned_schema(self, spark, tmp_path):
        """A rename BEFORE stream start: the CDF aligns both diff
        sides to the pinned (post-rename) schema through each
        manifest's colmap — pre-rename groups route their old file
        column to the pinned name."""
        t = _mk(spark, tmp_path, [(1, 10), (2, 20)])
        t.rename_column("v", "w")
        t.delete_where(spark, F.col("k") == 1)
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        got = []
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .option("readchangedata", "true")
            .option("key", "k")
            .option("maxversionspertrigger", "1")
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(
                    (r["k"], r["w"], r["_change_type"],
                     r["_commit_version"])
                    for r in df.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckr"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert sorted(got) == [
            (1, 10, "delete", 2),   # old-named file column routed
            (1, 10, "insert", 0),
            (2, 20, "insert", 0),
        ]

    def test_cdf_array_payload_null_safe_compare(self, spark, tmp_path):
        """array<long> payloads: the arrow-backed == is not
        implemented for lists, so the kernel's python-value fallback
        must classify changed vs unchanged rows correctly."""
        t = VersionedTable(str(tmp_path / "arr"))
        t.commit(
            spark.createDataFrame(
                [(1, [1, 2]), (2, [3, 4]), (3, None)],
                "k long, emb array<bigint>",
            ),
            mode="overwrite",
        )
        # rewrite: change k=1's array, keep k=2 identical, keep k=3
        # NULL — only k=1 may emit update rows
        t.commit(
            spark.createDataFrame(
                [(1, [9, 9]), (2, [3, 4]), (3, None)],
                "k long, emb array<bigint>",
            ),
            mode="overwrite",
        )
        from file_stream_import_spark.io.pysource import _cdf_diff_arrow
        from file_stream_import_spark.io.versioned import (
            _schema_from_json,
        )

        declared = _schema_from_json(t._load_manifest(1)["schema"])
        out = _cdf_diff_arrow(t.path, None, 1, ["k"], declared).to_pylist()
        changes = sorted(
            (r["k"], r["_change_type"], tuple(r["emb"] or []))
            for r in out
        )
        assert changes == [
            (1, "update_postimage", (9, 9)),
            (1, "update_preimage", (1, 2)),
        ]


class TestRewrittenAwayGroupRouting:
    """r12 hardening: a group RENAMED and then REWRITTEN AWAY inside
    the replayed range exists only in historical manifests — the end/
    latest manifest no longer carries its colmap entry. Every replay
    surface (batch table_changes, plain stream under ignorechanges,
    and the CDF stream) must pin the ranged newest-wins union, or the
    group's rows silently emit NULL under the post-rename name."""

    def _mk_renamed_rewritten(self, spark, tmp_path, name):
        t = _mk(spark, tmp_path, [(1, 10), (2, 20)], name)
        t.rename_column("v", "w")
        t.delete_where(spark, F.col("k") == 1)  # rewrites the group
        return t

    def test_batch_table_changes_routes_historical_group(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.versioned import table_changes

        t = self._mk_renamed_rewritten(spark, tmp_path, "b")
        got = sorted(
            (r["k"], r["w"], r["_commit_version"])
            for r in table_changes(
                t, spark, 0, ignore_changes=True
            ).collect()
        )
        assert got == [(1, 10, 0), (2, 20, 0), (2, 20, 2)]

    @pytest.mark.parametrize("reader", ["partitioned"])
    def test_ignorechanges_stream_routes_historical_group(
        self, spark, tmp_path, reader
    ):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = self._mk_renamed_rewritten(spark, tmp_path, f"s{reader}")
        got = []
        r = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .option("ignorechanges", "true")
        )
        q = (
            r.load()
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(
                    (x["k"], x["w"]) for x in df.collect()
                )
            )
            .option(
                "checkpointLocation", str(tmp_path / f"ck{reader}")
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert sorted(got) == [(1, 10), (2, 20), (2, 20)]


class TestStartingTimestamp:
    @pytest.mark.parametrize("reader", ["partitioned"])
    def test_starts_at_first_commit_after_instant(
        self, spark, tmp_path, reader
    ):
        import time

        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = _mk(spark, tmp_path, [(1, 10)], f"ts{reader}")
        time.sleep(0.05)
        cut = time.time()
        time.sleep(0.05)
        t.commit(
            spark.createDataFrame([(2, 20)], "k long, v long"),
            mode="append",
        )
        got = []
        r = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .option("startingtimestamp", str(cut))
        )
        q = (
            r.load()
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(
                    x["k"] for x in df.collect()
                )
            )
            .option(
                "checkpointLocation", str(tmp_path / f"tsck{reader}")
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert got == [2]  # v0 predates the instant

    def test_instant_before_history_means_earliest(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = _mk(spark, tmp_path, [(1, 10)])
        got = []
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .option("startingtimestamp", "2000-01-01T00:00:00")
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(
                    x["k"] for x in df.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "tsck0"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert got == [1]

    def test_mutually_exclusive_with_startingversion(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = _mk(spark, tmp_path, [(1, 10)])
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .option("startingversion", "0")
            .option("startingtimestamp", "0")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "x"))
            .start()
        )
        try:
            with pytest.raises(
                StreamingQueryException, match="not both"
            ):
                q.processAllAvailable()
                q.awaitTermination(30)
        finally:
            q.stop()


class TestCdfRollbackAcrossRename:
    def test_rollback_to_pre_rename_state_routes_both_sides(
        self, spark, tmp_path
    ):
        """A rollback TO a pre-rename snapshot makes the diff pair
        straddle the rename: the rolled-back manifest carries the OLD
        colmap state (no entry), so only the reader's pinned ranged
        union can route its files to the pinned post-rename names.
        Payloads are identical across the rollback, so the CDF must be
        EMPTY for that version — spurious NULL-updates would mean the
        fallback is broken."""
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = _mk(spark, tmp_path, [(1, 10), (2, 20)])
        t.rename_column("v", "w")
        t.rollback(0)  # restore pre-rename state (old colmap)
        got = []
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .option("readchangedata", "true")
            .option("key", "k")
            .option("maxversionspertrigger", "1")
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(
                    (x["k"], x["_change_type"], x["_commit_version"])
                    for x in df.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckrb"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # pinned schema is v1's... the stream pins the LATEST (v2 =
        # rollback) manifest's schema, which restored the OLD name 'v'
        # — either way, the rollback version must diff to ZERO rows
        assert [g for g in got if g[2] == 2] == []
        assert sorted(g[0] for g in got) == [1, 2]  # v0 inserts only


class TestRenameInsideReplayedRange:
    """r13: a rename commit BETWEEN diffed pairs in the replayed range.
    Groups that died BEFORE the rename have no recorded colmap entry in
    any manifest (rename_column routes only live groups) — their rows
    surfaced with the renamed column NULLed out, and pre-rename diff
    pairs emitted wrong preimages plus spurious pairs for untouched
    keys. _resolved_map now synthesizes file->pinned routing from each
    walked manifest's own schema through the rename chain after it."""

    def _drain(self, spark, t, tmp_path, name="ck"):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        got = []
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .option("readchangedata", "true")
            .option("key", "k")
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(
                    (
                        x["_commit_version"],
                        x["k"],
                        x["_change_type"],
                        x[df.columns[1]],
                    )
                    for x in df.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / name))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(got)

    def test_dead_group_rows_route_to_pinned_name(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, 10), (2, 20)])
        merge_into(
            t, spark,
            spark.createDataFrame([(2, 99)], "k long, v long"),
            key="k",
        )  # v1 rewrite: v0's group dies PRE-rename
        t.rename_column("v", "w")  # v2
        merge_into(
            t, spark,
            spark.createDataFrame([(1, 77)], "k long, w long"),
            key="k",
        )  # v3 rewrite post-rename
        assert self._drain(spark, t, tmp_path) == [
            (0, 1, "insert", 10),
            (0, 2, "insert", 20),
            (1, 2, "update_postimage", 99),
            (1, 2, "update_preimage", 20),
            (3, 1, "update_postimage", 77),
            (3, 1, "update_preimage", 10),
        ]

    def test_chained_renames_fold_recorded_entries(self, spark, tmp_path):
        """A group whose LAST recorded routing predates a later rename
        (v->w recorded, group dies, then w->x) must still land on the
        final name."""
        t = _mk(spark, tmp_path, [(1, 10), (2, 20)])
        t.rename_column("v", "w")  # v1: records {v: w} for the group
        merge_into(
            t, spark,
            spark.createDataFrame([(2, 99)], "k long, w long"),
            key="k",
        )  # v2: group dies carrying recorded {v: w}
        t.rename_column("w", "x")  # v3: dead group gets no new entry
        assert self._drain(spark, t, tmp_path, "ck2") == [
            (0, 1, "insert", 10),
            (0, 2, "insert", 20),
            (2, 2, "update_postimage", 99),
            (2, 2, "update_preimage", 20),
        ]

    def test_batch_table_changes_sees_dead_group_rename(
        self, spark, tmp_path
    ):
        """The batch changefeed TVF shares the pinned ranged union —
        a group rewritten away BEFORE the rename (so no manifest ever
        recorded routing for it) must still replay its rows under the
        END version's post-rename name."""
        from file_stream_import_spark.io.versioned import table_changes

        t = _mk(spark, tmp_path, [(1, 10), (2, 20)])
        merge_into(
            t, spark,
            spark.createDataFrame([(2, 99)], "k long, v long"),
            key="k",
        )  # v1: v0's group dies pre-rename
        t.rename_column("v", "w")  # v2
        got = sorted(
            (r["_commit_version"], r["k"], r["w"])
            for r in table_changes(
                t, spark, 0, ignore_changes=True
            ).collect()
        )
        assert got == [
            (0, 1, 10), (0, 2, 20), (1, 1, 10), (1, 2, 99)
        ]


class TestMidStreamRename:
    """r13: a rename landing AFTER the stream pinned its schema. The
    stream's output schema is fixed at start, but the table's live
    groups (and every later commit's files) now carry the NEW name —
    pre-overlay, those rows surfaced as NULL under the pinned column
    (silent data loss; Delta stops the stream instead). The post-pin
    overlay folds versions past the pin BACK to the pinned names, so
    values keep flowing."""

    def _run(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )
        from file_stream_import_spark.io.versioned import merge_into

        spark.dataSource.register(TableChangefeedDataSource)
        t = _mk(spark, tmp_path, [(1, 10)])
        got: list[tuple] = []
        r = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .option("readchangedata", "true")
            .option("key", "k")
        )
        q = (
            r.load()
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(
                    (x["_commit_version"], x["k"], x["_change_type"],
                     x["v"])
                    for x in df.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
            assert sorted(got) == [(0, 1, "insert", 10)]
            # MID-STREAM: rename, then append and merge under the NEW
            # name — the stream's pinned schema still says 'v'
            t.rename_column("v", "w")                       # v1
            t.commit(
                spark.createDataFrame([(2, 20)], "k long, w long"),
                mode="append",
            )                                               # v2
            merge_into(
                t, spark,
                spark.createDataFrame([(1, 77)], "k long, w long"),
                key="k",
            )                                               # v3
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(got)

    def test_partitioned_reader_values_flow(self, spark, tmp_path):
        assert self._run(spark, tmp_path) == [
            (0, 1, "insert", 10),
            (2, 2, "insert", 20),
            (3, 1, "update_postimage", 77),
            (3, 1, "update_preimage", 10),
        ]

    def test_chained_post_pin_renames(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = _mk(spark, tmp_path, [(1, 10)])
        got: list[tuple] = []
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .option("readchangedata", "true")
            .option("key", "k")
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(
                    (x["_commit_version"], x["k"], x["v"])
                    for x in df.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "ck3"))
            .start()
        )
        try:
            q.processAllAvailable()
            t.rename_column("v", "w")
            t.rename_column("w", "x")
            t.commit(
                spark.createDataFrame([(3, 30)], "k long, x long"),
                mode="append",
            )
            q.processAllAvailable()
        finally:
            q.stop()
        assert sorted(got) == [(0, 1, 10), (3, 3, 30)]


class TestMidStreamWiden:
    """r13 (continued): a widen_column landing AFTER the stream pinned
    its schema. Post-widen files carry the wide type; values that fit
    the pinned narrow type keep flowing through the safe Arrow cast
    (the additive-compatibility twin of the mid-stream rename
    overlay); a value OUT of the pinned type's range is unrepresentable
    in the stream's fixed output schema, so the batch fails with the
    restart-from-fresh-checkpoint remedy instead of a bare executor
    ArrowInvalid. (Delta stops the stream on any schema change; this
    engine stops only when data is actually unrepresentable.)"""

    def _mk_int(self, spark, tmp_path, name):
        t = VersionedTable(str(tmp_path / name))
        t.commit(
            spark.createDataFrame([(1, 10)], "k long, v int"),
            mode="overwrite",
        )
        return t

    def _stream(self, spark, t, tmp_path, ck):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        got: list[tuple] = []
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .option("readchangedata", "true")
            .option("key", "k")
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(
                    (x["_commit_version"], x["k"], x["v"])
                    for x in df.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / ck))
            .start()
        )
        return q, got

    def test_fitting_values_flow_under_pinned_type(
        self, spark, tmp_path
    ):
        t = self._mk_int(spark, tmp_path, "t_fit")
        q, got = self._stream(spark, t, tmp_path, "ck_fit")
        try:
            q.processAllAvailable()
            t.widen_column("v", "long")                     # v1
            t.commit(
                spark.createDataFrame([(2, 20)], "k long, v long"),
                mode="append",
            )                                               # v2
            q.processAllAvailable()
        finally:
            q.stop()
        assert sorted(got) == [(0, 1, 10), (2, 2, 20)]

    def test_out_of_range_value_raises_restart_remedy(
        self, spark, tmp_path
    ):
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        t = self._mk_int(spark, tmp_path, "t_ovf")
        q, got = self._stream(spark, t, tmp_path, "ck_ovf")
        try:
            q.processAllAvailable()
            t.widen_column("v", "long")
            t.commit(
                spark.createDataFrame(
                    [(2, 2**40)], "k long, v long"
                ),
                mode="append",
            )
            with pytest.raises(
                StreamingQueryException,
                match="restart the stream from a fresh checkpoint",
            ):
                q.processAllAvailable()
        finally:
            q.stop()

    def test_batch_reader_after_widen_reads_wide(self, spark, tmp_path):
        # a NEW reader (fresh pin) adopts the wide schema and reads
        # both the pre-widen narrow file and the out-of-range value
        t = self._mk_int(spark, tmp_path, "t_new")
        t.widen_column("v", "long")
        t.commit(
            spark.createDataFrame([(2, 2**40)], "k long, v long"),
            mode="append",
        )
        rows = sorted(
            (r["k"], r["v"]) for r in t.read(spark).collect()
        )
        assert rows == [(1, 10), (2, 2**40)]


class TestBatchCdfReader:
    """r13 (continued): the BATCH changefeed read
    (spark.read.format("table_changefeed") + endingversion — Delta's
    batch-CDF surface). It shares the stream's planner and kernels, so
    the metamorphic pins here tie all three CDF implementations
    together: batch datasource == drained stream == batch TVF."""

    def _mixed_dml(self, spark, tmp_path, name):
        from file_stream_import_spark.io.versioned import merge_into

        t = _mk(spark, tmp_path, [(i, i * 10) for i in range(1, 7)],
                name=name)
        merge_into(
            t, spark,
            spark.createDataFrame([(2, 99)], "k long, v long"),
            key="k",
        )                                                   # v1
        t.delete_where(spark, F.col("k") == 3)              # v2
        t.commit(
            spark.createDataFrame([(7, 70)], "k long, v long"),
            mode="append",
        )                                                   # v3
        return t

    def _batch_rows(self, spark, t, **opts):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        r = (
            spark.read.format("table_changefeed")
            .option("path", t.path)
            .option("readchangedata", "true")
            .option("key", "k")
        )
        for k, v in opts.items():
            r = r.option(k, str(v))
        return sorted(
            (x["_commit_version"], x["_change_type"], x["k"], x["v"])
            for x in r.load().collect()
        )

    def test_equals_drained_stream(self, spark, tmp_path):
        t = self._mixed_dml(spark, tmp_path, "t_eq")
        batch = self._batch_rows(spark, t)
        # _drain_cdf returns non-empty batches of (k, v, change, ver)
        streamed = [
            (ver, change, k, v)
            for b in _drain_cdf(spark, t.path, tmp_path)
            for (k, v, change, ver) in b
        ]
        assert batch == sorted(streamed)

    def test_equals_batch_tvf(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import (
            table_changes_cdf,
        )

        t = self._mixed_dml(spark, tmp_path, "t_tvf")
        batch = self._batch_rows(spark, t)
        tvf = sorted(
            (x["_commit_version"], x["_change_type"], x["k"], x["v"])
            for x in table_changes_cdf(t, spark, 0, key="k").collect()
        )
        assert batch == tvf

    def test_version_range_options(self, spark, tmp_path):
        t = self._mixed_dml(spark, tmp_path, "t_rng")
        rows = self._batch_rows(
            spark, t, startingversion=1, endingversion=2
        )
        assert {r[0] for r in rows} == {1, 2}
        assert [r[1] for r in rows if r[0] == 2] == ["delete"]
        # endingversion=latest == unbounded
        assert self._batch_rows(
            spark, t, endingversion="latest"
        ) == self._batch_rows(spark, t)
        # empty range: endingversion below startingversion
        assert self._batch_rows(
            spark, t, startingversion=3, endingversion=2
        ) == []

    def test_ending_timestamp(self, spark, tmp_path):
        t = self._mixed_dml(spark, tmp_path, "t_ts")
        ts1 = t._load_manifest(1)["committed_at"]
        rows = self._batch_rows(spark, t, endingtimestamp=ts1)
        assert {r[0] for r in rows} == {0, 1}
        with pytest.raises(Exception, match="not both"):
            self._batch_rows(
                spark, t, endingversion=1, endingtimestamp=ts1
            )

    def test_vacuumed_range_raises_remedy(self, spark, tmp_path):
        t = self._mixed_dml(spark, tmp_path, "t_vac")
        t.vacuum(keep_versions=1, min_age_seconds=0)
        with pytest.raises(Exception, match="vacuum"):
            self._batch_rows(spark, t)

    def test_plain_feed_batch_read(self, spark, tmp_path):
        # without readchangedata the batch read returns the rows
        # APPENDED in the range (the plain changefeed's semantics),
        # with ignorechanges gating rewrites exactly like the stream
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = self._mixed_dml(spark, tmp_path, "t_plain")
        rows = sorted(
            (x["k"], x["v"])
            for x in spark.read.format("table_changefeed")
            .option("path", t.path)
            .option("ignorechanges", "true")
            .load()
            .collect()
        )
        # v0 inserts + the v1 merge rewrite's surviving rows (under
        # ignorechanges a rewrite REPLAYS its whole group) + v3 append
        assert (2, 99) in rows and (7, 70) in rows
        with pytest.raises(Exception, match="ignorechanges|rewrote"):
            spark.read.format("table_changefeed").option(
                "path", t.path
            ).load().collect()


class TestOverlayCache:
    """Review finding (r13 continuation): the post-pin overlay is now
    cached incrementally — each trigger walks only the NEW versions.
    The metamorphic pin: the cache's merged view equals the stateless
    full-range _post_pin_overlay at every step."""

    def _history(self, spark, tmp_path):
        t = _mk(spark, tmp_path, [(1, 10)])
        pin = t.latest_version()
        t.commit(
            spark.createDataFrame([(2, 20)], "k long, v long"),
            mode="append",
        )
        t.rename_column("v", "w")
        t.commit(
            spark.createDataFrame([(3, 30)], "k long, w long"),
            mode="append",
        )
        merge_into(
            t, spark,
            spark.createDataFrame([(1, 77)], "k long, w long"),
            key="k",
        )
        t.rename_column("w", "x")
        t.commit(
            spark.createDataFrame([(4, 40)], "k long, x long"),
            mode="append",
        )
        return t, pin

    def test_incremental_equals_stateless(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            _OverlayCache,
            _post_pin_overlay,
        )

        t, pin = self._history(spark, tmp_path)
        latest = t.latest_version()
        cache = _OverlayCache(pin)
        for hi in range(pin, latest + 1):
            got = cache.extend(t, hi)
            want = _post_pin_overlay(t, pin, hi)
            assert got == want, f"divergence at hi={hi}"

    def test_extension_loads_only_new_manifests(
        self, spark, tmp_path, monkeypatch
    ):
        from file_stream_import_spark.io.pysource import _OverlayCache

        t, pin = self._history(spark, tmp_path)
        latest = t.latest_version()
        cache = _OverlayCache(pin)
        cache.extend(t, latest - 1)
        loads = {"n": 0}
        orig = VersionedTable._load_manifest

        def counting(self, v):
            loads["n"] += 1
            return orig(self, v)

        monkeypatch.setattr(VersionedTable, "_load_manifest", counting)
        cache.extend(t, latest)
        assert loads["n"] == 1  # only the one new version
        cache.extend(t, latest)
        assert loads["n"] == 1  # converged: no loads at all


class TestMidStreamDrop:
    """The documented contract for a column DROPPED after the stream
    pinned its schema: the stream keeps running and the pinned column
    reads NULL for post-drop rows (the data is genuinely gone — unlike
    a rename, there is nothing to route). Delta stops the stream on
    any schema change; this engine degrades to NULLs for exactly the
    rows that no longer carry the column."""

    def test_dropped_column_nulls_post_drop_rows(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = _mk(spark, tmp_path, [(1, 10)])
        got: list[tuple] = []
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .option("readchangedata", "true")
            .option("key", "k")
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(
                    (x["_commit_version"], x["k"], x["v"])
                    for x in df.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "ck_drop"))
            .start()
        )
        try:
            q.processAllAvailable()
            t.drop_column("v")                              # v1
            t.commit(
                spark.createDataFrame([(2,)], "k long"),
                mode="append",
            )                                               # v2
            q.processAllAvailable()
        finally:
            q.stop()
        # pre-drop rows keep their values; post-drop rows read NULL
        # under the pinned column — and the stream never stopped
        assert sorted(got) == [(0, 1, 10), (2, 2, None)]


class TestCdfDiffIsODelta:
    """The CDF diff of a pruned MERGE reads only the group the MERGE
    rewrote, on both sides: groups shared by v-1 and v are skipped by
    manifest, so the kernel's parquet reads do not grow with the
    table. Timed at scale by ``b195d10:tools/ab_cdf.py`` (kernel
    34.5 / 36.2 / 28.3 ms at 4 / 16 / 64 groups of 20k rows; full
    stream drain 1.68 / 1.68 / 1.63 s)."""

    def _parquet_reads(self, spark, tmp_path, monkeypatch, n_groups):
        import pyarrow.parquet as pq

        from file_stream_import_spark.io.pysource import _cdf_diff_arrow
        from file_stream_import_spark.io.versioned import (
            _schema_from_json,
            merge_into,
        )

        t = VersionedTable(str(tmp_path / f"t{n_groups}"))
        t.commit(
            spark.range(10 * n_groups).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("v")
            ),
            mode="overwrite",
            partition_by=["truncate(10, k)"],
        )
        assert len(t._load_manifest(0)["groups"]) == n_groups
        merge_into(
            t, spark, spark.createDataFrame([(3, 100)], "k long, v long"),
            key="k",
        )
        v = t.latest_version()
        declared = _schema_from_json(t._load_manifest(v)["schema"])
        reads = []
        real = pq.read_table

        def counting(p, *a, **kw):
            reads.append(p)
            return real(p, *a, **kw)

        with monkeypatch.context() as m:
            m.setattr(pq, "read_table", counting)
            rows = _cdf_diff_arrow(t.path, None, v, ["k"], declared)
        assert sorted(
            (r["_change_type"], r["k"], r["v"]) for r in rows.to_pylist()
        ) == [("update_postimage", 3, 100), ("update_preimage", 3, 3)]
        return len(reads)

    def test_diff_reads_do_not_grow_with_groups(
        self, spark, tmp_path, monkeypatch
    ):
        small = self._parquet_reads(spark, tmp_path, monkeypatch, 4)
        large = self._parquet_reads(spark, tmp_path, monkeypatch, 16)
        assert small == large == 2  # the rewritten group, each side
