"""Tags & branches (Iceberg-style refs) on the versioned lake table:
write-audit-publish, vacuum pinning, branch isolation, and the
changefeed contract across a publish. See io/versioned.py's
"refs: tags & branches" section."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    CommitConflictError,
    VersionedTable,
    merge_into,
)


def _mk(spark, tmp_path, name="t", n=8):
    t = VersionedTable(str(tmp_path / name))
    t.commit(
        spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        mode="overwrite",
    )
    return t


def _rows(spark, t, **kw):
    return {r["k"]: r["v"] for r in t.read(spark, **kw).collect()}


class TestTags:
    def test_create_read_delete(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        v = t.create_tag("base")
        assert v == 0 and t.tags() == {"base": 0}
        t.commit(
            spark.createDataFrame([(100, 200)], "k long, v long"),
            mode="append",
        )
        assert len(_rows(spark, t, tag="base")) == 8
        assert len(_rows(spark, t)) == 9
        assert _rows(spark, t, tag="base") == _rows(spark, t, version=0)
        t.delete_tag("base")
        assert t.tags() == {}
        with pytest.raises(KeyError, match="no such tag"):
            t.read(spark, tag="base")

    def test_duplicate_and_bad_names(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.create_tag("x")
        with pytest.raises(ValueError, match="already exists"):
            t.create_tag("x")
        for bad in ("", "a/b", "../up", ".hidden", "a" * 200):
            with pytest.raises(ValueError, match="invalid ref name"):
                t.create_tag(bad)

    def test_tag_requires_live_version(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        with pytest.raises(FileNotFoundError, match="not retained"):
            t.create_tag("future", version=5)

    def test_read_kwargs_mutually_exclusive(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.create_tag("x")
        with pytest.raises(ValueError, match="ONE of"):
            t.read(spark, version=0, tag="x")

    def test_vacuum_pins_tagged_suffix(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.create_tag("pin")  # v0
        for i in range(3):
            t.commit(
                spark.createDataFrame(
                    [(100 + i, i)], "k long, v long"
                ),
                mode="append",
            )
        t.vacuum(keep_versions=1, min_age_seconds=0)
        assert t.versions() == [0, 1, 2, 3]
        assert len(_rows(spark, t, tag="pin")) == 8
        t.delete_tag("pin")
        t.vacuum(keep_versions=1, min_age_seconds=0)
        assert t.versions() == [3]


class TestBranches:
    def test_isolation_both_ways(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        b = t.create_branch("dev")
        b.commit(
            spark.createDataFrame([(50, 1)], "k long, v long"),
            mode="append",
        )
        t.commit(
            spark.createDataFrame([(60, 2)], "k long, v long"),
            mode="append",
        )
        main, dev = _rows(spark, t), _rows(spark, b)
        assert 50 not in main and 60 in main
        assert 60 not in dev and 50 in dev
        assert t.branches() == ["dev"]
        assert b.is_branch and b.branch_name == "dev"

    def test_branch_fork_at_version(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.commit(
            spark.createDataFrame([(99, 0)], "k long, v long"),
            mode="append",
        )
        b = t.create_branch("old", from_version=0)
        assert len(_rows(spark, b)) == 8  # pre-append state

    def test_duplicate_and_missing(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.create_branch("dev")
        with pytest.raises(ValueError, match="already exists"):
            t.create_branch("dev")
        with pytest.raises(KeyError, match="no such branch"):
            t.branch("nope")
        t.delete_branch("dev")
        assert t.branches() == []
        with pytest.raises(KeyError):
            t.delete_branch("dev")

    def test_branch_handle_guards(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        b = t.create_branch("dev")
        for op in (
            lambda: b.create_tag("x"),
            lambda: b.create_branch("nested"),
            lambda: b.branch("dev"),
            lambda: b.publish_branch("dev"),
            lambda: b.delete_branch("dev"),
            lambda: b.delete_tag("x"),
        ):
            with pytest.raises(ValueError, match="branch handle"):
                op()

    def test_merge_into_on_branch(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        b = t.create_branch("dev")
        merge_into(
            b,
            spark,
            spark.createDataFrame([(0, 999), (50, 1)], "k long, v long"),
            key="k",
        )
        dev = _rows(spark, b)
        assert dev[0] == 999 and dev[50] == 1
        assert _rows(spark, t)[0] == 0  # main untouched

    def test_branch_vacuum_never_touches_data(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        b = t.create_branch("dev")
        for i in range(3):
            b.commit(
                spark.createDataFrame(
                    [(100 + i, i)], "k long, v long"
                ),
                mode="append",
            )
        removed = b.vacuum(keep_versions=1, min_age_seconds=0)
        assert removed == []
        assert b.versions() == [3]
        # main's data is fully intact
        assert len(_rows(spark, t)) == 8
        assert len(_rows(spark, b)) == 11


class TestPublish:
    def test_wap_publish(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        b = t.create_branch("audit")
        b.commit(
            spark.createDataFrame([(50, 1), (51, 2)], "k long, v long"),
            mode="append",
        )
        assert len(_rows(spark, t)) == 8  # audit in progress
        pv = t.publish_branch("audit")
        assert len(_rows(spark, t)) == 10
        m = t._load_manifest(pv)
        assert m["mode"] == "publish_branch:audit"
        assert len(m["added"]) == 1  # the staged group, by reference

    def test_diverged_publish_rebases_over_appends(self, spark, tmp_path):
        """r12: main advancing by pure APPENDS no longer blocks the
        publish — the staged groups rebase on top (appends commute),
        with rebased_from lineage recorded."""
        t = _mk(spark, tmp_path)
        b = t.create_branch("late")
        b.commit(
            spark.createDataFrame([(50, 1)], "k long, v long"),
            mode="append",
        )
        t.commit(
            spark.createDataFrame([(60, 2)], "k long, v long"),
            mode="append",
        )
        fork_v = t.latest_version() - 1
        pv = t.publish_branch("late")
        m = t._load_manifest(pv)
        assert m["mode"] == "publish_branch:late"
        assert m["rebased_from"] == fork_v
        rows = _rows(spark, t)
        assert rows[50] == 1 and rows[60] == 2  # both sides landed
        assert len(rows) == 10

    def test_diverged_publish_conflicts_on_rewrite(self, spark, tmp_path):
        """A non-append interim main commit still refuses the publish:
        the branch's audited decisions predate the rewrite."""
        t = _mk(spark, tmp_path)
        b = t.create_branch("late")
        b.commit(
            spark.createDataFrame([(50, 1)], "k long, v long"),
            mode="append",
        )
        t.delete_where(spark, F.col("k") < 2)
        with pytest.raises(CommitConflictError, match="not an append"):
            t.publish_branch("late")

    def test_diverged_publish_conflicts_on_branch_rewrite(
        self, spark, tmp_path
    ):
        """A branch whose STAGED history contains a rewrite cannot
        rebase either — its net delta is not a pure append."""
        t = _mk(spark, tmp_path)
        b = t.create_branch("late")
        b.delete_where(spark, F.col("k") < 2)
        t.commit(
            spark.createDataFrame([(60, 2)], "k long, v long"),
            mode="append",
        )
        with pytest.raises(CommitConflictError, match="not an append"):
            t.publish_branch("late")

    def test_rewrite_publish_mode(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        b = t.create_branch("rw")
        b.delete_where(spark, F.col("k") < 4)
        pv = t.publish_branch("rw")
        assert t._load_manifest(pv)["mode"] == "publish_branch_rewrite:rw"
        assert sorted(_rows(spark, t)) == [4, 5, 6, 7]

    def test_publish_carries_schema_evolution(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        b = t.create_branch("evolve")
        b.rename_column("v", "val")
        b.commit(
            spark.createDataFrame([(50, 1)], "k long, val long"),
            mode="append",
        )
        pv = t.publish_branch("evolve")
        rows = {
            r["k"]: r["val"] for r in t.read(spark, version=pv).collect()
        }
        assert rows[0] == 0 and rows[50] == 1  # old groups route via map

    def test_vacuum_respects_branch_groups(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        b = t.create_branch("keep")
        b.commit(
            spark.createDataFrame([(50, 1)], "k long, v long"),
            mode="append",
        )
        branch_groups = set(
            b._load_manifest(b.latest_version())["groups"]
        ) - set(t._load_manifest(t.latest_version())["groups"])
        assert branch_groups
        removed = t.vacuum(keep_versions=1, min_age_seconds=0)
        assert not (set(removed) & branch_groups)
        assert len(_rows(spark, b)) == 9  # branch still reads fine
        t.delete_branch("keep")
        removed = t.vacuum(keep_versions=1, min_age_seconds=0)
        assert set(removed) == branch_groups  # now orphaned, reclaimed

    def test_changefeed_across_additive_publish(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = _mk(spark, tmp_path)
        b = t.create_branch("stage")
        b.commit(
            spark.createDataFrame([(50, 1)], "k long, v long"),
            mode="append",
        )
        t.publish_branch("stage")
        out = str(tmp_path / "out")
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        ks = sorted(r["k"] for r in spark.read.parquet(out).collect())
        assert ks == list(range(8)) + [50]

    def test_changefeed_rejects_rewrite_publish(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )
        from pyspark.sql.utils import StreamingQueryException

        spark.dataSource.register(TableChangefeedDataSource)
        t = _mk(spark, tmp_path)
        b = t.create_branch("rw")
        b.delete_where(spark, F.col("k") < 4)
        t.publish_branch("rw")
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        with pytest.raises(StreamingQueryException, match="append-only"):
            try:
                q.processAllAvailable()
            finally:
                q.stop()

    def test_refs_layout_on_disk(self, spark, tmp_path):
        """The refs namespace is where the docs say it is."""
        t = _mk(spark, tmp_path)
        t.create_tag("x")
        t.create_branch("dev")
        assert os.path.isfile(
            os.path.join(t.path, "_refs", "tags", "x.json")
        )
        assert os.path.isdir(
            os.path.join(t.path, "_refs", "branches", "dev", "_manifests")
        )


class TestRefsReaders:
    """Refs through the reader surfaces: read(branch=/tag=) sugar and
    the changefeed's .option("branch", ...) — the audit side of WAP
    tails staging as commits land."""

    def _staged(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.create_tag("gold")
        b = t.create_branch("stage")
        b.commit(
            spark.createDataFrame([(50, 1)], "k long, v long"),
            mode="append",
        )
        b.commit(
            spark.createDataFrame([(51, 2)], "k long, v long"),
            mode="append",
        )
        return t

    def test_read_branch_sugar(self, spark, tmp_path):
        t = self._staged(spark, tmp_path)
        assert sorted(_rows(spark, t, branch="stage")) == list(
            range(8)
        ) + [50, 51]
        # version resolves within the BRANCH chain
        assert len(_rows(spark, t, branch="stage", version=1)) == 9
        with pytest.raises(ValueError, match="cannot combine"):
            t.read(spark, branch="stage", tag="gold")
        b = t.branch("stage")
        with pytest.raises(ValueError, match="branch handle"):
            b.read(spark, tag="gold")

    @pytest.mark.parametrize("reader", ["partitioned"])
    def test_changefeed_tails_branch(self, spark, tmp_path, reader):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = self._staged(spark, tmp_path)
        out = str(tmp_path / f"out_{reader}")
        r = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .option("branch", "stage")
            .option("maxversionspertrigger", "1")
        )
        q = (
            r.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ck_{reader}"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        ks = sorted(row["k"] for row in spark.read.parquet(out).collect())
        # the fork v0 is a metadata copy (added=[]): only the STAGED
        # commits stream; main's pre-fork rows don't re-emit
        assert ks == [50, 51]

    def test_publish_lineage_recorded(self, spark, tmp_path):
        t = self._staged(spark, tmp_path)
        pv = t.publish_branch("stage")
        lineage = t._load_manifest(pv)["published_from"]
        assert lineage == {"branch": "stage", "head": 2, "fork": 0}


class TestStreamingWAP:
    def test_stream_into_branch_then_publish(self, spark, tmp_path):
        """The full streaming write-audit-publish pipeline, by
        composition: a stream lands micro-batches on a STAGING branch
        through the exactly-once writer (txn epochs live in the
        branch's manifests), main never sees a row mid-stream, and
        publish_branch flips the audited result into main atomically.
        Replayed epochs stay no-ops on the branch."""
        from file_stream_import_spark.io.versioned import (
            make_idempotent_table_writer,
        )

        t = _mk(spark, tmp_path)
        b = t.create_branch("ingest")
        w = make_idempotent_table_writer(b, "wap_stream")

        src = str(tmp_path / "drops")
        batch0 = spark.createDataFrame(
            [(100, 1), (101, 2)], "k long, v long"
        )
        batch1 = spark.createDataFrame([(102, 3)], "k long, v long")
        batch0.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("k long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(w)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            batch1.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()

        assert len(_rows(spark, t)) == 8  # main untouched mid-audit
        staged = _rows(spark, b)
        assert {k: staged[k] for k in (100, 101, 102)} == {
            100: 1, 101: 2, 102: 3,
        }
        # replayed epoch: no-op on the branch
        v_before = b.latest_version()
        w(batch1, 1)
        assert b.latest_version() == v_before

        t.publish_branch("ingest")
        main = _rows(spark, t)
        assert len(main) == 11 and main[102] == 3


class TestPublishNoOp:
    def test_publish_unchanged_branch_is_noop(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.create_branch("idle")
        v = t.latest_version()
        assert t.publish_branch("idle") == v
        assert t.latest_version() == v  # no duplicate snapshot

    def test_noop_publish_over_interim_appends(self, spark, tmp_path):
        """r12: an unchanged branch publishes as a no-op even after
        main appended (nothing staged, appends commute) — no new main
        version, no changefeed noise."""
        t = _mk(spark, tmp_path)
        t.create_branch("idle")
        t.commit(
            spark.createDataFrame([(60, 2)], "k long, v long"),
            mode="append",
        )
        v = t.latest_version()
        assert t.publish_branch("idle") == v
        assert t.latest_version() == v

    def test_noop_publish_still_checks_fork_on_rewrite(
        self, spark, tmp_path
    ):
        t = _mk(spark, tmp_path)
        t.create_branch("idle")
        t.commit(
            spark.createDataFrame([(60, 2)], "k long, v long"),
            mode="overwrite",
        )
        with pytest.raises(CommitConflictError, match="not an append"):
            t.publish_branch("idle")


class TestBranchLifecycleMidStream:
    """r12: the failure contract for a changefeed tailing a branch that
    delete_branch() removes mid-stream — a documented error type with
    the remedy, not a bare FileNotFoundError or silently-regressing
    offsets (the same standard as the vacuum-vs-reader retry, r9)."""

    @pytest.mark.parametrize("reader", ["partitioned"])
    def test_delete_branch_mid_stream_raises_contract(
        self, spark, tmp_path, reader
    ):
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = _mk(spark, tmp_path, name=f"mid_{reader}")
        b = t.create_branch("stage")
        b.commit(
            spark.createDataFrame([(50, 1)], "k long, v long"),
            mode="append",
        )
        seen: list[int] = []
        r = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .option("branch", "stage")
        )
        q = (
            r.load()
            .writeStream.foreachBatch(
                lambda df, _b: seen.append(df.count())
            )
            .option(
                "checkpointLocation", str(tmp_path / f"ck_{reader}")
            )
            .start()
        )
        try:
            q.processAllAvailable()
            # the fork's metadata-copy v0 adds nothing; only the
            # staged row streams
            assert sum(seen) == 1
            t.delete_branch("stage")
            with pytest.raises(
                StreamingQueryException,
                match="deleted while the stream was tailing",
            ):
                q.processAllAvailable()
                # the poller may need a real trigger to re-plan
                q.awaitTermination(30)
        finally:
            q.stop()


class TestRebasePublishEdges:
    """r12 rebase-publish edge coverage: the paths the happy-path test
    and the fuzz draws don't isolate — additive schema evolution on
    either side, and pre-existing merge-on-read delete entries carried
    verbatim through the rebase."""

    def test_rebase_unions_additive_schema_evolution(
        self, spark, tmp_path
    ):
        """Branch appends WITH a new column while main appends with
        the fork schema: the rebased publish's schema is the additive
        union; interim main rows read NULL for the branch's column."""
        t = _mk(spark, tmp_path)
        b = t.create_branch("evolve")
        b.commit(
            spark.createDataFrame(
                [(50, 1, "x")], "k long, v long, note string"
            ),
            mode="append",
            allow_evolution=True,
        )
        t.commit(
            spark.createDataFrame([(60, 2)], "k long, v long"),
            mode="append",
        )
        pv = t.publish_branch("evolve")
        m = t._load_manifest(pv)
        assert m.get("rebased_from") == 0
        rows = {
            r["k"]: (r["v"], r["note"])
            for r in t.read(spark).collect()
        }
        assert rows[50] == (1, "x")
        assert rows[60] == (2, None)  # interim append: NULL back-fill
        assert rows[0] == (0, None)

    def test_rebase_conflicts_on_incompatible_evolution(
        self, spark, tmp_path
    ):
        """Both sides add the SAME column with different types: the
        union is ambiguous — the rebase must refuse."""
        t = _mk(spark, tmp_path)
        b = t.create_branch("clash")
        b.commit(
            spark.createDataFrame(
                [(50, 1, 7)], "k long, v long, note long"
            ),
            mode="append",
            allow_evolution=True,
        )
        t.commit(
            spark.createDataFrame(
                [(60, 2, "s")], "k long, v long, note string"
            ),
            mode="append",
            allow_evolution=True,
        )
        with pytest.raises(
            CommitConflictError, match="evolved the schema incompatibly"
        ):
            t.publish_branch("clash")

    def test_rebase_carries_preexisting_mor_entries(
        self, spark, tmp_path
    ):
        """MoR delete entries that existed at the FORK are carried
        verbatim by appends on both sides — the rebase keeps them and
        the published read still hides the deleted keys."""
        t = _mk(spark, tmp_path)
        t.delete_where(
            spark, F.col("k") < 2,
            strategy="merge-on-read", key_cols=["k"],
        )
        b = t.create_branch("stage")
        b.commit(
            spark.createDataFrame([(50, 1)], "k long, v long"),
            mode="append",
        )
        t.commit(
            spark.createDataFrame([(60, 2)], "k long, v long"),
            mode="append",
        )
        pv = t.publish_branch("stage")
        m = t._load_manifest(pv)
        assert m.get("rebased_from") == 1
        assert m["mode"] == "publish_branch:stage"
        assert m.get("delete_entries")  # carried, not dropped
        rows = _rows(spark, t)
        assert 0 not in rows and 1 not in rows  # MoR still applies
        assert rows[50] == 1 and rows[60] == 2
        assert len(rows) == 8  # 6 survivors + 2 appends

    def test_rebase_refused_when_fork_vacuumed(self, spark, tmp_path):
        """vacuum expiring the fork manifest removes the proof the
        mode walk needs — the publish must refuse with the remedy."""
        t = _mk(spark, tmp_path)
        b = t.create_branch("stage")
        b.commit(
            spark.createDataFrame([(50, 1)], "k long, v long"),
            mode="append",
        )
        for i in range(3):
            t.commit(
                spark.createDataFrame([(60 + i, 2)], "k long, v long"),
                mode="append",
            )
        t.vacuum(keep_versions=1, min_age_seconds=0)
        with pytest.raises(CommitConflictError, match="no longer retained"):
            t.publish_branch("stage")


def _data_files(t):
    return sorted(
        os.path.relpath(os.path.join(d, f), t.path)
        for d, _, files in os.walk(t.path)
        for f in files
        if f.endswith(".parquet")
    )


class TestRefsCostIsMetadata:
    """Refs never touch data. A tag is one small file, a fork copies a
    manifest, a fast-forward publish creates one manifest, and a
    rebase publish proves its interim commits are appends by reading
    one manifest each. Counted here on tiny tables; timed at scale by
    ``b195d10:tools/ab_refs.py`` (create_tag 0.2 ms flat at 16x the
    groups and at 16x the bytes) and ``b195d10:tools/ab_rebase.py``
    (proof walk 1.6 / 2.9 / 10.7 ms at 4 / 16 / 64 interim commits,
    about 0.15 ms per manifest; wide rows 1.1x narrow once string stats
    were truncated)."""

    def test_tag_fork_and_fast_forward_write_no_data(
        self, spark, tmp_path
    ):
        t = _mk(spark, tmp_path)
        before = _data_files(t)
        t.create_tag("audit")
        b = t.create_branch("wap")
        assert _data_files(t) == before
        b.commit(
            spark.createDataFrame([(50, 1)], "k long, v long"),
            mode="append",
        )
        staged = _data_files(t)
        assert len(staged) > len(before)
        pv = t.publish_branch("wap")
        m = t._load_manifest(pv)
        assert m["mode"] == "publish_branch:wap"
        assert "rebased_from" not in m  # a fast-forward
        assert _data_files(t) == staged
        assert _rows(spark, t)[50] == 1

    def test_rebase_walk_loads_one_manifest_per_interim_commit(
        self, spark, tmp_path, monkeypatch
    ):
        def rows(pad: int):
            return (
                spark.range(1)
                .select(
                    F.col("id").alias("k"),
                    F.repeat(F.lit("x"), pad).alias("pad"),
                )
                .coalesce(1)
                .localCheckpoint(eager=True)
            )

        narrow, wide = rows(1), rows(2000)
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(narrow, mode="overwrite")

        def publish_loads(n_interim: int, frame) -> int:
            name = f"b{t.latest_version()}"
            b = t.create_branch(name)
            fork_v = t.latest_version()
            b.commit(narrow, mode="append")
            for _ in range(n_interim):
                t.commit(frame, mode="append")
            loads = [0]
            orig = VersionedTable._load_manifest

            def counting(self, v):
                loads[0] += 1
                return orig(self, v)

            with monkeypatch.context() as m:
                m.setattr(VersionedTable, "_load_manifest", counting)
                pv = t.publish_branch(name)
            assert t._load_manifest(pv)["rebased_from"] == fork_v
            return loads[0]

        four, eight = publish_loads(4, narrow), publish_loads(8, narrow)
        assert eight - four == 4  # one load per interim commit
        assert publish_loads(8, wide) == eight  # row width adds none
