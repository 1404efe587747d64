"""Snapshot-versioned parquet table (io/versioned.py): atomic commits,
time travel, rollback-as-new-snapshot, optimistic-concurrency conflict,
crash-orphan invisibility, and vacuum reclamation."""

from __future__ import annotations

import json
import os

import pytest

from file_stream_import_spark.io.versioned import (
    CommitConflictError,
    SchemaMismatchError,
    VersionedTable,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 10 AS v")


class TestVersionedTable:
    def test_append_overwrite_and_time_travel(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        assert t.versions() == []
        v0 = t.commit(_df(spark, 0, 5))
        v1 = t.commit(_df(spark, 5, 8))
        assert (v0, v1) == (0, 1)
        assert t.read(spark).count() == 8
        assert sorted(r["id"] for r in t.read(spark, 0).collect()) == [
            0, 1, 2, 3, 4,
        ]
        v2 = t.commit(_df(spark, 100, 102), mode="overwrite")
        assert t.read(spark).count() == 2
        # every historical version still readable
        assert t.read(spark, v1).count() == 8
        assert t.read(spark, v2).count() == 2

    def test_rollback_is_a_new_snapshot(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_df(spark, 0, 5))
        t.commit(_df(spark, 5, 9))
        bad = t.commit(_df(spark, 1000, 2000))  # the bad deploy
        v = t.rollback(1)
        assert v == bad + 1
        assert t.read(spark).count() == 9
        # history intact: the bad snapshot is still time-travelable
        # (append mode: 9 good rows + the 1000 bad ones)
        assert t.read(spark, bad).count() == 1009

    def test_append_schema_mismatch_fails_loudly(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_df(spark, 0, 3))
        other = spark.range(3).selectExpr("id", "CAST(id AS STRING) AS v")
        with pytest.raises(SchemaMismatchError):
            t.commit(other)
        # overwrite is the explicit migration path
        t.commit(other, mode="overwrite")
        assert dict(t.read(spark).dtypes)["v"] == "string"

    def test_concurrent_commit_conflict(self, spark, tmp_path):
        """The optimistic-concurrency race: this writer read parent=0,
        then another writer published version 1 first. The stale-parent
        publish must fail atomically, and a retry (which re-reads the
        new latest) succeeds on version 2."""
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_df(spark, 0, 3))
        loser_parent = t.latest_version()  # == 0, read BEFORE the race
        # concurrent winner publishes version 1
        winner = t._load_manifest(0)
        path = os.path.join(str(tmp_path / "t"), "_manifests", "v00000001.json")
        with open(path, "w") as f:
            json.dump({**winner, "version": 1, "parent": 0}, f)
        with pytest.raises(CommitConflictError):
            t._publish(
                loser_parent,
                {"schema": winner["schema"], "groups": [], "mode": "append"},
            )
        # retry re-reads latest and lands on version 2
        assert t.commit(_df(spark, 3, 6)) == 2

    def test_crash_orphan_is_invisible_and_vacuumed(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_df(spark, 0, 4))
        # crash between data write and manifest publish: data group
        # exists, no manifest references it
        orphan = str(tmp_path / "t" / "data" / "deadbeef")
        _df(spark, 50, 60).write.parquet(orphan)
        assert t.read(spark).count() == 4  # invisible to readers
        # default min_age protects a commit-in-flight's fresh data
        # group (written before its manifest publishes) from deletion
        assert t.vacuum(keep_versions=1) == []
        removed = t.vacuum(keep_versions=1, min_age_seconds=0)
        assert ["data/deadbeef"] == removed
        assert t.read(spark).count() == 4

    def test_vacuum_expires_old_snapshots_and_their_files(
        self, spark, tmp_path
    ):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_df(spark, 0, 4))
        t.commit(_df(spark, 100, 104), mode="overwrite")
        removed = t.vacuum(keep_versions=1, min_age_seconds=0)
        assert len(removed) == 1  # v0's group reclaimed
        assert t.versions() == [1]
        assert t.read(spark).count() == 4
        # appends continue from the retained lineage
        v = t.commit(_df(spark, 104, 106))
        assert v == 2 and t.read(spark).count() == 6


class TestMergeInto:
    def test_merge_updates_and_inserts_with_history(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import merge_into

        t = VersionedTable(str(tmp_path / "t"))
        base = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
        v0 = t.commit(base)
        upd = spark.createDataFrame(
            [(2, "B2"), (4, "d")], "k long, v string"
        )
        v1 = merge_into(t, spark, upd, key="k")
        got = sorted((r.k, r.v) for r in t.read(spark).collect())
        assert got == [(1, "a"), (2, "B2"), (3, "c"), (4, "d")]
        # pre-merge state time-travelable
        pre = sorted((r.k, r.v) for r in t.read(spark, v0).collect())
        assert pre == [(1, "a"), (2, "b"), (3, "c")]
        assert v1 == v0 + 1

    def test_merge_duplicate_source_keys_rejected(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import merge_into

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
        dup = spark.createDataFrame(
            [(2, "x"), (2, "y")], "k long, v string"
        )
        with pytest.raises(ValueError, match="duplicate keys"):
            merge_into(t, spark, dup, key="k")

    def test_merge_into_empty_table_bootstraps(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import merge_into

        t = VersionedTable(str(tmp_path / "t"))
        upd = spark.createDataFrame([(1, "a")], "k long, v string")
        assert merge_into(t, spark, upd, key="k") == 0
        assert t.read(spark).count() == 1


class TestSchemaEvolution:
    def test_additive_append_evolves_and_backfills_null(
        self, spark, tmp_path
    ):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
        evolved = spark.createDataFrame(
            [(2, "b", 9.5)], "k long, v string, score double"
        )
        with pytest.raises(SchemaMismatchError):
            t.commit(evolved)  # still opt-in
        t.commit(evolved, allow_evolution=True)
        got = {r.k: (r.v, r.score) for r in t.read(spark).collect()}
        assert got == {1: ("a", None), 2: ("b", 9.5)}
        # next plain append must match the EVOLVED schema
        t.commit(
            spark.createDataFrame(
                [(3, "c", 1.0)], "k long, v string, score double"
            )
        )
        assert t.read(spark).count() == 3

    def test_type_change_rejected_even_with_evolution(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
        bad = spark.createDataFrame([(2, 5)], "k long, v long")
        with pytest.raises(SchemaMismatchError, match="changes type"):
            t.commit(bad, allow_evolution=True)


class TestLakehouseFlagshipLoop:
    """The reference's flagship path (CSV stream -> keyed upsert ->
    paginated read, SURVEY §3.1/§3.2) landed on the versioned table via
    the exactly-once foreachBatch writer: per-batch MERGE snapshots,
    replay-safe epochs, time travel to pre-batch states, deterministic
    pagination of the final state."""

    def test_csv_stream_upserts_exactly_once_with_history(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.versioned import (
            VersionedTable,
            make_idempotent_table_writer,
        )

        t = VersionedTable(str(tmp_path / "locations"))
        w = make_idempotent_table_writer(t, "csv_ingest", key="locid")

        def batch(rows):
            return spark.createDataFrame(
                rows, "locid string, country string, business string"
            )

        b0 = batch([("L1", "US", "cafe"), ("L2", "DE", "bar")])
        b1 = batch([("L2", "DE", "bistro"), ("L3", "FR", "shop")])

        src = str(tmp_path / "drops")
        b0.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(
                "locid string, country string, business string"
            )
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
            v_after_b0 = t.latest_version()
            b1.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()

        # upsert semantics: L2 updated (last writer wins), L3 inserted
        got = {r.locid: r.business for r in t.read(spark).collect()}
        assert got == {"L1": "cafe", "L2": "bistro", "L3": "shop"}

        # replayed epoch is a no-op (no new snapshot, no dup rows)
        v_before = t.latest_version()
        w(b1, 1)
        assert t.latest_version() == v_before
        assert t.read(spark).count() == 3

        # time travel to the pre-merge state (the O7 read runs on any
        # version — deterministic pagination by locid)
        pre = t.read(spark, v_after_b0)
        assert {r.locid: r.business for r in pre.collect()} == {
            "L1": "cafe",
            "L2": "bar",
        }
        page = (
            t.read(spark)
            .orderBy("locid")
            .offset(1)
            .limit(1)
            .collect()
        )
        assert [r.locid for r in page] == ["L2"]


class TestReviewHardening:
    """Pins for the second review pass: atomic txn stamping, lost-update
    detection, and nullability-insensitive schema identity."""

    def test_merge_conflicts_when_table_advances_mid_merge(
        self, spark, tmp_path
    ):
        """Read-modify-write race: merge computed against version 0
        must NOT silently erase a concurrent version-1 commit."""
        from file_stream_import_spark.io.versioned import merge_into

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
        upd = spark.createDataFrame([(1, "A")], "k long, v string"
                                    ).repartition(1)
        # interleave: another writer lands between our read and commit
        with pytest.raises(CommitConflictError):
            base = t.latest_version()
            current = t.read(spark, base)
            t.commit(
                spark.createDataFrame([(9, "z")], "k long, v string")
            )  # the concurrent writer
            merged = current.join(upd, ["k"], "left_anti").unionByName(upd)
            t.commit(merged, mode="overwrite", expected_parent=base)

    def test_nullability_drift_does_not_block_append_or_merge(
        self, spark, tmp_path
    ):
        """spark.range columns are nullable=false; parquet reads come
        back nullable=true. Appends and merges across that drift must
        work (same logical schema)."""
        from file_stream_import_spark.io.versioned import merge_into

        t = VersionedTable(str(tmp_path / "t"))
        src = spark.range(3).selectExpr("id AS k", "id * 2 AS v")
        assert not src.schema["k"].nullable
        t.commit(src)
        # overwrite with the read-back (all-nullable) frame, then
        # append the non-nullable source again
        t.commit(t.read(spark), mode="overwrite")
        t.commit(src)
        assert t.read(spark).count() == 6
        merge_into(t, spark, spark.range(3, 5).selectExpr(
            "id AS k", "id * 2 AS v"), key="k")
        # 6 existing rows (keys 0-2 doubled by the append) + 2 inserts
        assert t.read(spark).count() == 8

    def test_txn_mark_is_atomic_with_commit_and_survives_vacuum(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.versioned import (
            make_idempotent_table_writer,
        )

        t = VersionedTable(str(tmp_path / "t"))
        w = make_idempotent_table_writer(t, "q", key=None)
        b = spark.createDataFrame([(1, "a")], "k long, v string")
        w(b, 0)
        # the txn mark is IN the committed manifest (no separate stamp)
        assert t._load_manifest(t.latest_version())["txn"] == {"q": 0}
        # a manual commit without txn still carries the watermark
        t.commit(spark.createDataFrame([(2, "b")], "k long, v string"))
        assert t._load_manifest(t.latest_version())["txn"] == {"q": 0}
        # vacuum away history; replay of epoch 0 must STILL be skipped
        t.vacuum(keep_versions=1, min_age_seconds=0)
        before = t.read(spark).count()
        w(b, 0)
        assert t.read(spark).count() == before
        # and a genuinely new epoch lands
        w(spark.createDataFrame([(3, "c")], "k long, v string"), 1)
        assert t.read(spark).count() == before + 1


class TestTableWriterRestartRecovery:
    def test_checkpoint_restart_continues_epochs_without_duplicates(
        self, spark, tmp_path
    ):
        """Real restart-from-checkpoint: a NEW query instance over the
        same checkpoint must neither duplicate the already-committed
        epoch nor miss new data."""
        from file_stream_import_spark.io.versioned import (
            VersionedTable,
            make_idempotent_table_writer,
        )

        t = VersionedTable(str(tmp_path / "t"))
        src = str(tmp_path / "drops")
        ckpt = str(tmp_path / "ckpt")

        def mk(rows):
            return spark.createDataFrame(rows, "k long, v string")

        def start():
            stream = (
                spark.readStream.schema("k long, v string")
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            w = make_idempotent_table_writer(t, "q_restart", key="k")
            return (
                stream.writeStream.foreachBatch(w)
                .option("checkpointLocation", ckpt)
                .start()
            )

        mk([(1, "a"), (2, "b")]).coalesce(1).write.mode("append").parquet(src)
        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert t.read(spark).count() == 2

        # restart: fresh query, same checkpoint; add one more file
        mk([(2, "B"), (3, "c")]).coalesce(1).write.mode("append").parquet(src)
        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r.k: r.v for r in t.read(spark).collect()}
        assert got == {1: "a", 2: "B", 3: "c"}


class TestModelBasedSequences:
    """Model-based check: random operation sequences applied to BOTH the
    VersionedTable and a trivial in-memory model must agree at every
    version — the snapshot-isolation claim as a property, not an
    example. Deterministic seeds keep it reproducible without
    hypothesis's per-example Spark-session cost."""

    def _run_sequence(self, spark, tmp_path, seed):
        import random

        from file_stream_import_spark.io.versioned import merge_into

        rnd = random.Random(seed)
        t = VersionedTable(str(tmp_path / f"t{seed}"))
        model_history = []  # model_history[v] = dict(k -> v)
        state: dict[int, int] = {}

        def frame(d):
            return spark.createDataFrame(
                sorted(d.items()), "k long, v long"
            )

        n_keys = 6
        for step in range(6):
            op = rnd.choice(["append", "overwrite", "merge", "rollback"])
            batch = {
                rnd.randrange(n_keys): rnd.randrange(100)
                for _ in range(rnd.randint(1, 3))
            }
            if op == "append" and state:
                # append duplicates keys in the model too: represent the
                # model as a multiset via counts — simplify by only
                # appending DISJOINT keys so the model stays a dict
                batch = {
                    k: v for k, v in batch.items() if k not in state
                }
                if not batch:
                    continue
                t.commit(frame(batch))
                state = {**state, **batch}
            elif op == "overwrite" or not state:
                t.commit(frame(batch), mode="overwrite")
                state = dict(batch)
            elif op == "merge":
                merge_into(t, spark, frame(batch), key="k")
                state = {**state, **batch}
            else:  # rollback
                target = rnd.randrange(len(model_history))
                t.rollback(target)
                state = dict(model_history[target])
            model_history.append(dict(state))
            got = {
                r.k: r.v
                for r in t.read(spark).collect()
            }
            assert got == state, (seed, step, op)
        # final sweep: EVERY historical version still matches the model
        for v, expect in enumerate(model_history):
            got = {r.k: r.v for r in t.read(spark, v).collect()}
            assert got == expect, (seed, "history", v)

    def test_random_sequences_match_model(self, spark, tmp_path):
        for seed in (11, 23, 47):
            self._run_sequence(spark, tmp_path, seed)


class TestOptimizeAndHistory:
    def test_optimize_compacts_preserving_rows_and_history(
        self, spark, tmp_path
    ):
        t = VersionedTable(str(tmp_path / "t"))
        for i in range(4):
            t.commit(_df(spark, i * 10, i * 10 + 10))
        pre = sorted(r["id"] for r in t.read(spark).collect())
        v = t.optimize(spark)
        assert sorted(r["id"] for r in t.read(spark).collect()) == pre
        h = t.history()
        assert h[-1]["mode"] == "overwrite" and h[-1]["n_groups"] == 1
        assert h[-2]["n_groups"] == 4  # fragmented version retained
        # vacuum now reclaims the 4 small groups
        removed = t.vacuum(keep_versions=1, min_age_seconds=0)
        assert len(removed) == 4
        assert sorted(r["id"] for r in t.read(spark).collect()) == pre


class TestTableChangefeed:
    """Streaming source over the versioned table: snapshot versions are
    offsets, commits become micro-batches exactly-once, the append-only
    contract rejects overwrites unless ignorechanges opts in."""

    def _start(self, spark, t, ckpt, name, **opts):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        reader = spark.readStream.format("table_changefeed").option(
            "path", t.path
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        return (
            reader.load()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    def test_commits_tail_as_batches_and_survive_restart(
        self, spark, tmp_path
    ):
        """File sink + checkpoint: commits stream out exactly once, and
        a restart from the checkpoint neither re-emits consumed
        snapshots nor misses new ones (memory sinks can't recover, so
        the durable-sink path is the one worth proving)."""
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
            mode="overwrite",
        )
        ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

        def start():
            return (
                spark.readStream.format("table_changefeed")
                .option("path", t.path)
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .start()
            )

        q = start()
        try:
            q.processAllAvailable()
            t.commit(spark.createDataFrame([(3, "c")], "k long, v string"))
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(
            (r.k, r.v) for r in spark.read.parquet(out).collect()
        )
        assert got == [(1, "a"), (2, "b"), (3, "c")]

        # restart from the same checkpoint: already-consumed snapshots
        # must NOT re-emit; the new commit must arrive exactly once
        t.commit(spark.createDataFrame([(4, "d")], "k long, v string"))
        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(
            (r.k, r.v) for r in spark.read.parquet(out).collect()
        )
        assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]

    def test_overwrite_rejected_unless_ignorechanges(self, spark, tmp_path):
        import uuid as _uuid

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame([(1, "a")], "k long, v string"),
            mode="overwrite",
        )
        t.commit(
            spark.createDataFrame([(9, "z")], "k long, v string"),
            mode="overwrite",
        )
        name = "cf" + _uuid.uuid4().hex[:8]
        q = self._start(spark, t, str(tmp_path / "c1"), name)
        try:
            with pytest.raises(Exception, match="append"):
                q.processAllAvailable()
        finally:
            q.stop()
        # ignorechanges tails only ADDED groups (no retraction)
        name2 = "cf" + _uuid.uuid4().hex[:8]
        q = self._start(
            spark, t, str(tmp_path / "c2"), name2, ignorechanges="true"
        )
        try:
            q.processAllAvailable()
            got = sorted(
                (r.k, r.v)
                for r in spark.sql(f"SELECT * FROM {name2}").collect()
            )
            assert got == [(1, "a"), (9, "z")]
        finally:
            q.stop()


class TestChangefeedHardening:
    """Regressions for the changefeed review pass: vacuum expiry,
    schema evolution alignment, and rollback re-emission."""

    def _collect(self, spark, t, tmp_path, tag, **opts):
        import uuid as _uuid

        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        name = "cf" + _uuid.uuid4().hex[:8]
        reader = spark.readStream.format("table_changefeed").option(
            "path", t.path
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .start()
        )
        try:
            q.processAllAvailable()
            return spark.sql(f"SELECT * FROM {name}").collect()
        finally:
            q.stop()

    def test_vacuumed_history_raises_remedy_and_latest_works(
        self, spark, tmp_path
    ):
        t = VersionedTable(str(tmp_path / "t"))
        for i in range(3):
            t.commit(
                spark.createDataFrame([(i, "x")], "k long, v string"),
                mode="append" if i else "overwrite",
            )
        t.commit(
            spark.createDataFrame([(9, "z")], "k long, v string"),
            mode="overwrite",
        )
        t.vacuum(keep_versions=1, min_age_seconds=0)
        # earliest tails into expired manifests: clear remedy, not a
        # bare FileNotFoundError
        with pytest.raises(Exception, match="vacuum"):
            self._collect(
                spark, t, tmp_path, "a", ignorechanges="true"
            )
        # startingversion=latest only sees post-start commits
        assert (
            self._collect(
                spark, t, tmp_path, "b", startingversion="latest"
            )
            == []
        )

    def test_evolved_history_aligns_by_name_with_nulls(
        self, spark, tmp_path
    ):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame([(1,)], "k long"), mode="overwrite"
        )
        t.commit(
            spark.createDataFrame([(2, "b")], "k long, v string"),
            allow_evolution=True,
        )
        rows = self._collect(spark, t, tmp_path, "evo")
        got = sorted((r.k, r.v) for r in rows)
        # pre-evolution snapshot yields NULL for the added column
        assert got == [(1, None), (2, "b")]

    def test_rollback_after_overwrite_does_not_reemit(
        self, spark, tmp_path
    ):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame([(1, "a")], "k long, v string"),
            mode="overwrite",
        )
        t.commit(
            spark.createDataFrame([(2, "b")], "k long, v string"),
            mode="overwrite",
        )
        t.rollback(0)  # groups revert to v0's — NOT new data
        rows = self._collect(
            spark, t, tmp_path, "rb", ignorechanges="true"
        )
        got = sorted((r.k, r.v) for r in rows)
        # each group's rows exactly once: g0 (from v0) + g1 (from v1);
        # the rollback emits nothing
        assert got == [(1, "a"), (2, "b")]


class TestDeleteWhere:
    def test_delete_rows_with_history_and_changefeed_contract(
        self, spark, tmp_path
    ):
        import uuid as _uuid

        from pyspark.sql import functions as F

        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_df(spark, 0, 10), mode="overwrite")
        v = t.delete_where(spark, F.col("id") >= 7)
        assert sorted(r["id"] for r in t.read(spark).collect()) == list(
            range(7)
        )
        assert t.history()[-1]["mode"] == "delete"
        # deleted rows remain time-travelable
        assert t.read(spark, v - 1).count() == 10
        # the strict changefeed refuses to silently skip a delete
        spark.dataSource.register(TableChangefeedDataSource)
        name = "cf" + _uuid.uuid4().hex[:8]
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            with pytest.raises(Exception, match="append"):
                q.processAllAvailable()
        finally:
            q.stop()


class TestChangefeedPartitionedReader:
    """The changefeed stream reader's plan
    (TableChangefeedPartitionedReader; the 7 semantic tests above
    route through it). These pin the PLANNING shape."""

    def test_partitions_are_per_added_file_and_metadata_only(
        self, spark, tmp_path
    ):
        """One InputPartition per parquet file of each ADDED group in
        the offset range — and none for groups outside it (carried
        groups are the parent's, not this commit's delta)."""
        from file_stream_import_spark.io.pysource import (
            TableChangefeedPartitionedReader,
        )

        import file_stream_import_spark.io.versioned as V

        t = VersionedTable(str(tmp_path / "t"))
        # pin the multi-file fixture shape: the write-side size gate
        # would coalesce 3 tiny partitions into one file (by design);
        # this test is about per-FILE planning, so it drops the gate to
        # 1 byte — _df is spark.range-backed, so its size estimate is
        # real and "large" keeps the upstream layout
        old = V._WRITE_REBALANCE_MAX_BYTES
        V._WRITE_REBALANCE_MAX_BYTES = 1
        try:
            t.commit(
                _df(spark, 0, 10).repartition(3), mode="overwrite"
            )  # v0: one group, 3 files
            t.commit(_df(spark, 10, 14).coalesce(1))  # v1: 1 file
        finally:
            V._WRITE_REBALANCE_MAX_BYTES = old
        r = TableChangefeedPartitionedReader({"path": t.path})
        full = r.partitions(
            {"next_version": 0}, {"next_version": 2}
        )
        assert len([p for p in full if p.file_path]) == 4
        tail = r.partitions(
            {"next_version": 1}, {"next_version": 2}
        )
        assert len([p for p in tail if p.file_path]) == 1
        # the empty range still satisfies Spark's >=1-partition rule
        # with a sentinel that reads nothing
        sentinel = r.partitions(
            {"next_version": 2}, {"next_version": 2}
        )
        assert len(sentinel) == 1 and not sentinel[0].file_path
        assert list(r.read(sentinel[0])) == []

    def test_executor_read_aligns_and_batches(self, spark, tmp_path):
        """read(partition) yields Arrow batches matching the declared
        schema order regardless of the file's column order."""
        from file_stream_import_spark.io.pysource import (
            TableChangefeedPartitionedReader,
        )

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame([(1, "a")], "k long, v string"),
            mode="overwrite",
        )
        r = TableChangefeedPartitionedReader({"path": t.path})
        parts = r.partitions({"next_version": 0}, {"next_version": 1})
        batches = [b for p in parts for b in r.read(p)]
        assert [b.schema.names for b in batches] == [["k", "v"]]
        assert batches[0].to_pylist() == [{"k": 1, "v": "a"}]


class TestMergeOnReadDeletes:
    def test_equality_delete_scoped_to_existing_groups(
        self, spark, tmp_path
    ):
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_df(spark, 0, 10), mode="overwrite")
        v = t.delete_where(
            spark,
            F.col("id") >= 7,
            strategy="merge-on-read",
            key_cols=["id"],
        )
        # rows hidden at read; data files untouched (O(matched) commit)
        assert sorted(r["id"] for r in t.read(spark).collect()) == list(
            range(7)
        )
        h = t.history()
        assert h[-1]["mode"] == "delete" and h[-1]["n_groups"] == 1
        assert t.read(spark, v - 1).count() == 10  # time travel intact
        # a key RE-INSERTED after the delete must survive: the delete
        # is scoped to the groups that existed when it committed
        t.commit(
            spark.range(8, 9).selectExpr("id", "id * 10 AS v")
        )
        assert sorted(r["id"] for r in t.read(spark).collect()) == [
            0, 1, 2, 3, 4, 5, 6, 8,
        ]

    def test_optimize_materializes_pending_deletes(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_df(spark, 0, 10), mode="overwrite")
        t.delete_where(
            spark, F.col("id") % 2 == 0,
            strategy="merge-on-read", key_cols=["id"],
        )
        t.optimize(spark)
        m = t._load_manifest(t.latest_version())
        assert not m.get("delete_entries")
        assert sorted(r["id"] for r in t.read(spark).collect()) == [
            1, 3, 5, 7, 9,
        ]
        # after compaction the delete sidecar becomes vacuumable, but
        # while any retained manifest references it, it survives
        t2_removed = t.vacuum(keep_versions=3, min_age_seconds=0)
        assert t2_removed == []
        removed = t.vacuum(keep_versions=1, min_age_seconds=0)
        assert len(removed) == 2  # original group + delete sidecar
        assert sorted(r["id"] for r in t.read(spark).collect()) == [
            1, 3, 5, 7, 9,
        ]

    def test_mor_requires_key_cols(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_df(spark, 0, 3), mode="overwrite")
        with pytest.raises(ValueError, match="key_cols"):
            t.delete_where(
                spark, F.col("id") > 0, strategy="merge-on-read"
            )


class TestMergeOnReadHardening:
    """Regressions for the MoR review pass: rollback preserves pending
    deletes, evolution-keyed and NULL-keyed deletes work, and empty
    deletes are no-ops."""

    def test_rollback_preserves_pending_deletes(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_df(spark, 0, 10), mode="overwrite")
        v1 = t.delete_where(
            spark, F.col("id") >= 7,
            strategy="merge-on-read", key_cols=["id"],
        )
        t.commit(_df(spark, 100, 101))  # some later append
        t.rollback(v1)
        assert sorted(r["id"] for r in t.read(spark).collect()) == list(
            range(7)
        )

    def test_delete_keyed_on_evolved_column(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame([(1,), (2,)], "k long"),
            mode="overwrite",
        )
        t.commit(
            spark.createDataFrame([(3, "x")], "k long, w string"),
            allow_evolution=True,
        )
        # key on the evolved column: pre-evolution rows read w as NULL
        # and the NULL-safe join deletes exactly them
        t.delete_where(
            spark, F.col("w").isNull(),
            strategy="merge-on-read", key_cols=["w"],
        )
        assert [r.k for r in t.read(spark).collect()] == [3]

    def test_empty_delete_is_noop(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / "t"))
        v0 = t.commit(_df(spark, 0, 5), mode="overwrite")
        v = t.delete_where(
            spark, F.col("id") > 10**9,
            strategy="merge-on-read", key_cols=["id"],
        )
        assert v == v0  # no new snapshot published
        assert not t._load_manifest(v0).get("delete_entries")
        assert t.read(spark).count() == 5


class TestTimestampAsOf:
    def test_reads_resolve_by_commit_instant(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_df(spark, 0, 3), mode="overwrite")
        t.commit(_df(spark, 3, 6))
        ts0 = t._load_manifest(0)["committed_at"]
        ts1 = t._load_manifest(1)["committed_at"]
        assert ts0 <= ts1
        # between the two commits -> version 0's state
        assert t.read(spark, as_of_timestamp=ts0).count() == 3
        assert t.read(spark, as_of_timestamp=ts1 + 1).count() == 6
        with pytest.raises(FileNotFoundError, match="no snapshot"):
            t.read(spark, as_of_timestamp=ts0 - 10)
        with pytest.raises(ValueError, match="ONE of"):
            t.read(spark, version=0, as_of_timestamp=ts0)


class TestRound6Stats:
    """Round-6: manifest column stats, file-pruned MERGE, stats-pruned
    reads, NULL-safe copy-on-write DELETE, clamped commit instants, and
    the atomic exactly-once replay check."""

    def _kv(self, spark, rows):
        return spark.createDataFrame(rows, "k long, v string")

    def _group_mtimes(self, t, groups):
        out = {}
        for g in groups:
            d = os.path.join(t.path, g)
            out[g] = sorted(
                (f, os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d)
            )
        return out

    def test_commit_records_column_stats(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._kv(spark, [(1, "a"), (10, "b")]))
        m = t._load_manifest(0)
        (g,) = m["groups"]
        st = m["stats"][g]
        assert st["_rows"] == 2
        # r10: numeric entries also carry the write-time SUM
        # (agg_where's metadata aggregate), integral sums as
        # decimal-encoded strings
        assert st["k"] == {"min": 1, "max": 10, "nulls": 0, "sum": "11"}
        assert st["v"] == {"min": "a", "max": "b", "nulls": 0}
        # append carries the old group's stats forward by reference
        t.commit(self._kv(spark, [(20, "z")]))
        m1 = t._load_manifest(1)
        assert m1["stats"][g] == st and len(m1["stats"]) == 2

    def test_merge_rewrites_only_touched_groups(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import merge_into

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._kv(spark, [(1, "a"), (10, "b")]))
        t.commit(self._kv(spark, [(11, "c"), (20, "d")]))
        t.commit(self._kv(spark, [(21, "e"), (30, "f")]))
        g1, g2, g3 = t._load_manifest(2)["groups"]
        before = self._group_mtimes(t, [g1, g3])
        # touches only the middle group's [11, 20] key range + an insert
        upd = self._kv(spark, [(15, "C2"), (35, "new")])
        merge_into(t, spark, upd, key="k")
        m = t._load_manifest(t.latest_version())
        # untouched groups carried BY REFERENCE: same dirs, same files,
        # same mtimes — they were never read or rewritten
        assert g1 in m["groups"] and g3 in m["groups"]
        assert g2 not in m["groups"]
        assert self._group_mtimes(t, [g1, g3]) == before
        # their stats carried forward too; the new group has fresh stats
        assert m["stats"][g1]["k"] == {
            "min": 1, "max": 10, "nulls": 0, "sum": "11",
        }
        new = [g for g in m["groups"] if g not in (g1, g3)]
        assert len(new) == 1
        assert m["stats"][new[0]]["k"]["max"] == 35
        got = sorted((r.k, r.v) for r in t.read(spark).collect())
        assert got == [
            (1, "a"), (10, "b"), (11, "c"), (15, "C2"), (20, "d"),
            (21, "e"), (30, "f"), (35, "new"),
        ]

    def test_merge_insert_only_touches_nothing(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import merge_into

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._kv(spark, [(1, "a"), (10, "b")]))
        t.commit(self._kv(spark, [(11, "c"), (20, "d")]))
        olds = t._load_manifest(1)["groups"]
        merge_into(t, spark, self._kv(spark, [(100, "x")]), key="k")
        m = t._load_manifest(t.latest_version())
        # both existing groups referenced untouched; insert-only merge
        # is a pure O(delta) append-shaped commit
        assert [g for g in m["groups"][:2]] == olds
        assert t.read(spark).count() == 5

    def test_merge_legacy_manifest_without_stats_is_conservative(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.versioned import merge_into

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._kv(spark, [(1, "a"), (10, "b")]))
        # simulate a pre-stats manifest
        mp = os.path.join(t.path, "_manifests", "v00000000.json")
        m = json.load(open(mp))
        m.pop("stats", None)
        json.dump(m, open(mp, "w"))
        merge_into(t, spark, self._kv(spark, [(100, "x")]), key="k")
        got = sorted((r.k, r.v) for r in t.read(spark).collect())
        assert got == [(1, "a"), (10, "b"), (100, "x")]

    def test_read_where_prunes_groups_by_stats(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._kv(spark, [(1, "a"), (10, "b")]))
        t.commit(self._kv(spark, [(11, "c"), (20, "d")]))
        t.commit(self._kv(spark, [(21, "e"), (30, "f")]))
        g1, g2, g3 = t._load_manifest(2)["groups"]
        df = t.read(spark, where={"k": (12, 19)})
        # only the matching group's files are in the scan at all
        files = df.inputFiles()
        assert files and all(g2 in f for f in files)
        assert sorted(r.k for r in df.collect()) == []
        df2 = t.read(spark, where={"k": (10, 11)})
        assert sorted(r.k for r in df2.collect()) == [10, 11]
        assert not any(g3 in f for f in df2.inputFiles())
        # open-ended bound
        df3 = t.read(spark, where={"k": (21, None)})
        assert sorted(r.k for r in df3.collect()) == [21, 30]
        assert all(g3 in f for f in df3.inputFiles())

    def test_cow_delete_null_predicate_matches_mor(self, spark, tmp_path):
        from pyspark.sql import functions as F

        rows = [(1, "a"), (2, None), (3, "c")]
        schema = "k long, v string"
        cond = F.col("v") == "a"  # NULL for k=2 — must KEEP that row
        t1 = VersionedTable(str(tmp_path / "cow"))
        t1.commit(spark.createDataFrame(rows, schema))
        t1.delete_where(spark, cond, strategy="copy-on-write")
        t2 = VersionedTable(str(tmp_path / "mor"))
        t2.commit(spark.createDataFrame(rows, schema))
        t2.delete_where(
            spark, cond, strategy="merge-on-read", key_cols=["k"]
        )
        got1 = sorted((r.k, r.v) for r in t1.read(spark).collect())
        got2 = sorted((r.k, r.v) for r in t2.read(spark).collect())
        assert got1 == got2 == [(2, None), (3, "c")]

    def test_committed_at_clamped_monotone(self, spark, tmp_path, monkeypatch):
        import time as time_mod

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._kv(spark, [(1, "a")]))
        ts0 = t._load_manifest(0)["committed_at"]
        # a skewed writer whose clock is an hour behind
        real = time_mod.time
        monkeypatch.setattr(time_mod, "time", lambda: real() - 3600)
        t.commit(self._kv(spark, [(2, "b")]))
        ts1 = t._load_manifest(1)["committed_at"]
        assert ts1 >= ts0  # clamped to parent's instant
        # TIMESTAMP AS OF at ts1 resolves to the NEWEST version at that
        # instant — consistent with version order despite the skew
        assert t.version_as_of(ts1) == 1

    @pytest.mark.parametrize(
        "sink", ["table_append", "table_keyed", "cdc", "mv_maintainer"]
    )
    def test_idempotent_writer_conflict_replay_skips(
        self, spark, tmp_path, sink
    ):
        """Zombie-driver race, for every foreachBatch lake sink: writer
        A reads the watermark, then another instance delivers the same
        batch before A commits. A's pinned commit conflicts, A re-reads
        the watermark, and skips — the batch lands once."""
        from file_stream_import_spark.io.versioned import (
            make_idempotent_cdc_writer,
            make_idempotent_table_writer,
        )
        from file_stream_import_spark.operators.mv import (
            make_mv_maintainer,
            nd_aux_table,
        )

        t = VersionedTable(str(tmp_path / "t"))
        if sink == "mv_maintainer":
            # distinct_cols: the support-table fold runs on every batch
            def make():
                return make_mv_maintainer(
                    t, "q", group_cols=["g"], sum_cols=["x"],
                    distinct_cols=["v"],
                )

            schema = (
                "g string, v string, x long, _change_type string, "
                "_commit_version int"
            )
            b0 = [("a", "x", 1, "insert", 0)]
            b1 = [("a", "y", 2, "insert", 1), ("a", "x", 4, "insert", 1)]
        elif sink == "cdc":
            def make():
                return make_idempotent_cdc_writer(t, "q", key="k")

            schema = "k long, v string, op string"
            b0 = [(1, "a", "I")]
            b1 = [(2, "b", "I")]
        else:
            def make():
                key = "k" if sink == "table_keyed" else None
                return make_idempotent_table_writer(t, "q", key=key)

            schema = "k long, v string"
            b0 = [(1, "a")]
            b1 = [(2, "b")]
        w = make()
        w(spark.createDataFrame(b0, schema), 0)
        # interleave: the first watermark read of the zombie delivery
        # lets a competing instance land batch 1 before A publishes
        orig_latest = t.latest_version
        landed = []

        def racy_latest():
            v = orig_latest()
            if not landed:
                landed.append(None)
                make()(spark.createDataFrame(b1, schema), 1)
                landed[0] = orig_latest()
            return v

        t.latest_version = racy_latest
        w(spark.createDataFrame(b1, schema), 1)  # zombie redelivery
        t.latest_version = orig_latest
        assert landed  # the race ran
        assert t.latest_version() == landed[0]  # A committed nothing
        assert t._load_manifest(landed[0])["txn"]["q"] == 1
        if sink == "mv_maintainer":
            assert [
                (r["g"], r["n_rows"], r["x"], r["v_nd"])
                for r in t.read(spark).collect()
            ] == [("a", 3, 7, 2)]
            assert sorted(
                (r["v"], r["cnt"])
                for r in nd_aux_table(t, "v").read(spark).collect()
            ) == [("x", 2), ("y", 1)]
        else:
            assert sorted(
                (r["k"], r["v"]) for r in t.read(spark).collect()
            ) == [(1, "a"), (2, "b")]

    def test_merge_materializes_deletes_on_touched_groups_only(
        self, spark, tmp_path
    ):
        """Pending equality deletes: a touched group is rewritten WITH
        its deletes applied (the entry is dropped for it); an untouched
        group keeps its entry — and the deleted row stays deleted."""
        from pyspark.sql import functions as F

        from file_stream_import_spark.io.versioned import merge_into

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._kv(spark, [(1, "a"), (10, "b")]))
        t.commit(self._kv(spark, [(11, "c"), (20, "d")]))
        # MOR-delete one row in EACH group
        t.delete_where(
            spark,
            F.col("k").isin(1, 20),
            strategy="merge-on-read",
            key_cols=["k"],
        )
        g1, g2 = t._load_manifest(0)["groups"] + t._load_manifest(1)[
            "added"
        ]
        # merge touches only group 2 (keys 11..20)
        merge_into(t, spark, self._kv(spark, [(11, "C2")]), key="k")
        m = t._load_manifest(t.latest_version())
        entries = m["delete_entries"]
        # entry survives only for the untouched group 1
        assert len(entries) == 1 and entries[0]["applies_to"] == [g1]
        got = sorted((r.k, r.v) for r in t.read(spark).collect())
        assert got == [(10, "b"), (11, "C2")]

    def test_optimize_cluster_by_enables_pruning(self, spark, tmp_path):
        """Delta's OPTIMIZE ZORDER story end-to-end: interleaved-key
        appends make every group's key range overlap (nothing prunable);
        clustering compaction rewrites into disjoint key ranges, after
        which stats-pruned reads scan one group and a selective MERGE
        rewrites one group."""
        from file_stream_import_spark.io.versioned import merge_into

        t = VersionedTable(str(tmp_path / "t"))
        # interleaved appends: each group spans nearly the full range
        t.commit(self._kv(spark, [(1, "a"), (40, "h"), (20, "d")]))
        t.commit(self._kv(spark, [(2, "b"), (39, "g"), (21, "e")]))
        t.commit(self._kv(spark, [(3, "c"), (38, "f"), (22, "x")]))
        # overlapping ranges: a narrow read must scan EVERY group
        assert len({f.split("/data/")[1].split("/")[0]
                    for f in t.read(spark, where={"k": (20, 22)}).inputFiles()}) == 3
        v = t.optimize(spark, cluster_by="k", target_groups=3)
        m = t._load_manifest(v)
        assert len(m["groups"]) == 3
        # ranges now disjoint: consecutive groups' k-stats don't overlap
        ranges = [
            (m["stats"][g]["k"]["min"], m["stats"][g]["k"]["max"])
            for g in m["groups"]
        ]
        assert ranges == sorted(ranges)
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2
        # same narrow read now touches only range-intersecting groups
        # (sampling decides exact boundaries, so compute from stats)
        expect = {
            g.split("/")[-1]
            for g in m["groups"]
            if not (m["stats"][g]["k"]["max"] < 20
                    or m["stats"][g]["k"]["min"] > 22)
        }
        assert len(expect) < 3
        pruned = t.read(spark, where={"k": (20, 22)})
        assert sorted(r.k for r in pruned.collect()) == [20, 21, 22]
        assert {
            f.split("/data/")[1].split("/")[0] for f in pruned.inputFiles()
        } == expect
        # and a selective MERGE rewrites only the touched group
        before = self._group_mtimes(
            t, [g for g in m["groups"]
                if m["stats"][g]["k"]["max"] < 20
                or m["stats"][g]["k"]["min"] > 22]
        )
        merge_into(t, spark, self._kv(spark, [(21, "UPD")]), key="k")
        assert self._group_mtimes(t, list(before)) == before
        got = dict((r.k, r.v) for r in t.read(spark).collect())
        assert got[21] == "UPD" and len(got) == 9

    def test_optimize_cluster_by_preserves_rows_and_deletes(
        self, spark, tmp_path
    ):
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._kv(spark, [(i, f"v{i}") for i in range(10)]))
        t.delete_where(
            spark, F.col("k") == 5, strategy="merge-on-read", key_cols=["k"]
        )
        v = t.optimize(spark, cluster_by="k", target_groups=2)
        m = t._load_manifest(v)
        assert m["delete_entries"] == []  # materialized by the rewrite
        got = sorted(r.k for r in t.read(spark).collect())
        assert got == [0, 1, 2, 3, 4, 6, 7, 8, 9]
        # history intact: pre-optimize state still time-travelable
        assert sorted(r.k for r in t.read(spark, v - 1).collect()) == got


class TestGroupDisjointConcurrency:
    """Delta/Iceberg-style optimistic concurrency (r7): commits
    computed against the same parent snapshot both land when they are
    provably disjoint (different groups, non-overlapping key boxes);
    true overlap still conflicts. Replaces the r1-r6 rule 'any
    concurrent commit conflicts' (parent-version equality)."""

    def _kv(self, spark, rows):
        return spark.createDataFrame(rows, "k long, v string")

    def _two_group_table(self, spark, tmp_path, name="t"):
        t = VersionedTable(str(tmp_path / name))
        t.commit(self._kv(spark, [(i, f"a{i}") for i in range(10)]))
        t.commit(self._kv(spark, [(100 + i, f"b{i}") for i in range(10)]))
        return t

    def test_disjoint_merges_both_land_without_retry(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.versioned import merge_into

        t = self._two_group_table(spark, tmp_path)
        base = t.latest_version()  # both writers read snapshot 1
        v_a = merge_into(
            t, spark, self._kv(spark, [(3, "A3")]), key="k",
            expected_parent=base,
        )
        assert v_a == base + 1
        # writer B still pins the OLD base — its key range [103, 103]
        # is disjoint from A's touched group, so it REBASES and lands
        v_b = merge_into(
            t, spark, self._kv(spark, [(103, "B103")]), key="k",
            expected_parent=base,
        )
        assert v_b == base + 2
        m = t._load_manifest(v_b)
        assert m.get("rebased_from") == base
        got = dict((r.k, r.v) for r in t.read(spark).collect())
        assert got[3] == "A3" and got[103] == "B103"  # neither lost
        assert len(got) == 20

    def test_overlapping_merges_still_conflict(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import merge_into

        t = self._two_group_table(spark, tmp_path)
        base = t.latest_version()
        merge_into(
            t, spark, self._kv(spark, [(3, "A3")]), key="k",
            expected_parent=base,
        )
        # writer B touches the SAME group's key range → true conflict
        with pytest.raises(CommitConflictError):
            merge_into(
                t, spark, self._kv(spark, [(5, "B5")]), key="k",
                expected_parent=base,
            )

    def test_merge_conflicts_with_overlapping_concurrent_insert(
        self, spark, tmp_path
    ):
        """A concurrent commit ADDED rows inside this merge's key box:
        the not-matched→insert decision is stale (would duplicate the
        key), so the rebase must refuse."""
        from file_stream_import_spark.io.versioned import merge_into

        t = self._two_group_table(spark, tmp_path)
        base = t.latest_version()
        t.commit(self._kv(spark, [(50, "mid")]))  # concurrent append
        with pytest.raises(CommitConflictError):
            merge_into(
                t, spark, self._kv(spark, [(50, "B50")]), key="k",
                expected_parent=base,
            )
        # but a merge whose box is disjoint from the appended keys lands
        v = merge_into(
            t, spark, self._kv(spark, [(3, "B3")]), key="k",
            expected_parent=base,
        )
        got = dict((r.k, r.v) for r in t.read(spark, v).collect())
        assert got[3] == "B3" and got[50] == "mid"

    def test_append_rebases_over_concurrent_append(self, spark, tmp_path):
        t = self._two_group_table(spark, tmp_path)
        base = t.latest_version()
        t.commit(self._kv(spark, [(200, "x")]))
        # pinned append over an advanced table: pure adds never
        # conflict — rebase lands it
        v = t.commit(
            self._kv(spark, [(300, "y")]), expected_parent=base
        )
        assert v == base + 2
        got = {r.k for r in t.read(spark).collect()}
        assert {200, 300} <= got and len(got) == 22

    def test_rebase_refuses_on_schema_change(self, spark, tmp_path):
        t = self._two_group_table(spark, tmp_path)
        base = t.latest_version()
        evolved = spark.createDataFrame(
            [(500, "e", 1.0)], "k long, v string, w double"
        )
        t.commit(evolved, allow_evolution=True)
        with pytest.raises(CommitConflictError):
            t.commit(
                self._kv(spark, [(600, "z")]), expected_parent=base
            )

    def test_rebase_refuses_on_constraint_change(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import merge_into

        t = self._two_group_table(spark, tmp_path)
        base = t.latest_version()
        t.add_check_constraint(spark, "k_nonneg", "k >= 0")
        with pytest.raises(CommitConflictError):
            merge_into(
                t, spark, self._kv(spark, [(3, "A3")]), key="k",
                expected_parent=base,
            )

    def test_rebase_refuses_on_pending_mor_deletes(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import merge_into
        from pyspark.sql import functions as F

        t = self._two_group_table(spark, tmp_path)
        base = t.latest_version()
        t.delete_where(
            spark, F.col("k") == 105, strategy="merge-on-read",
            key_cols=["k"],
        )
        with pytest.raises(CommitConflictError):
            merge_into(
                t, spark, self._kv(spark, [(3, "A3")]), key="k",
                expected_parent=base,
            )

    def test_threaded_disjoint_exactly_once_writers(self, spark, tmp_path):
        """Two independent exactly-once writers (different query names,
        disjoint key ranges) race from the same watermark read: with
        rebase neither needs a recompute retry, no update is lost, and
        both txn watermarks land."""
        import threading

        from file_stream_import_spark.io.versioned import (
            make_idempotent_table_writer,
        )

        t = self._two_group_table(spark, tmp_path)
        w_a = make_idempotent_table_writer(t, "qa", key="k")
        w_b = make_idempotent_table_writer(t, "qb", key="k")
        df_a = self._kv(spark, [(1, "A1")])
        df_b = self._kv(spark, [(101, "B101")])
        barrier = threading.Barrier(2)
        errs = []

        def run(w, df):
            barrier.wait()
            try:
                w(df, 7)
            except Exception as e:  # pragma: no cover
                errs.append(e)

        ths = [
            threading.Thread(target=run, args=(w_a, df_a)),
            threading.Thread(target=run, args=(w_b, df_b)),
        ]
        for th in ths:
            th.start()
        for th in ths:
            th.join(timeout=120)
        assert errs == []
        got = dict((r.k, r.v) for r in t.read(spark).collect())
        assert got[1] == "A1" and got[101] == "B101"
        txn = t._load_manifest(t.latest_version())["txn"]
        assert txn == {"qa": 7, "qb": 7}

    def test_threaded_same_writer_replay_lands_once(self, spark, tmp_path):
        """Two concurrent deliveries of the SAME (writer, batch_id):
        the txn-advance conflict rule makes the loser re-read the
        watermark and skip — exactly-once survives the rebase era."""
        import threading

        from file_stream_import_spark.io.versioned import (
            make_idempotent_table_writer,
        )

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._kv(spark, [(0, "seed")]))
        w = make_idempotent_table_writer(t, "q", key=None)
        df = self._kv(spark, [(1, "once")])
        barrier = threading.Barrier(2)
        errs = []

        def run():
            barrier.wait()
            try:
                w(df, 1)
            except Exception as e:  # pragma: no cover
                errs.append(e)

        ths = [threading.Thread(target=run) for _ in range(2)]
        for th in ths:
            th.start()
        for th in ths:
            th.join(timeout=120)
        assert errs == []
        rows = [r for r in t.read(spark).collect() if r.k == 1]
        assert len(rows) == 1  # exactly once, not twice

    def test_disjoint_apply_changes_rebases(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import apply_changes

        t = self._two_group_table(spark, tmp_path)
        base = t.latest_version()
        ch_a = spark.createDataFrame(
            [(2, "A2", "U")], "k long, v string, op string"
        )
        ch_b = spark.createDataFrame(
            [(102, None, "D")], "k long, v string, op string"
        )
        apply_changes(t, spark, ch_a, key="k", expected_parent=base)
        apply_changes(t, spark, ch_b, key="k", expected_parent=base)
        got = dict((r.k, r.v) for r in t.read(spark).collect())
        assert got[2] == "A2" and 102 not in got and len(got) == 19


class TestBloomSkipping:
    """Per-group Bloom filters (r7): point-lookup data skipping on
    high-cardinality unordered keys, where min/max boxes span the
    whole key space and range pruning is blind."""

    def _hash_table(self, spark, tmp_path):
        """Two groups of md5-style string keys whose lexical ranges
        fully overlap — box pruning can never separate them."""
        import hashlib

        t = VersionedTable(str(tmp_path / "t"))
        keys_a = [hashlib.md5(f"a{i}".encode()).hexdigest() for i in range(40)]
        keys_b = [hashlib.md5(f"b{i}".encode()).hexdigest() for i in range(40)]
        mk = lambda ks, tag: spark.createDataFrame(
            [(k, tag) for k in ks], "k string, v string"
        )
        t.commit(mk(keys_a, "A"))
        t.commit(mk(keys_b, "B"))
        t.set_bloom_columns(spark, ["k"])
        return t, keys_a, keys_b

    def test_manifest_carries_blooms(self, spark, tmp_path):
        t, _, _ = self._hash_table(spark, tmp_path)
        m = t._load_manifest(t.latest_version())
        assert m["bloom_cols"] == ["k"]
        for g in m["groups"]:
            bl = m["stats"][g]["_bloom"]["k"]
            assert bl["k"] == 6 and bl["m"] >= 8192
            # dense sidecar inside the group dir, Spark-invisible
            # (underscore prefix), exactly m/8 bytes
            p = os.path.join(t.path, bl["file"])
            assert os.path.basename(p).startswith("_bloom_")
            assert os.path.getsize(p) == bl["m"] // 8
        # the sidecar does not leak into table reads
        assert set(t.read(spark).columns) == {"k", "v"}

    def test_point_read_prunes_by_bloom(self, spark, tmp_path):
        t, keys_a, keys_b = self._hash_table(spark, tmp_path)
        m = t._load_manifest(t.latest_version())
        ga, gb = m["groups"]
        v = keys_a[7]
        df = t.read(spark, where={"k": (v, v)})
        files = df.inputFiles()
        # box pruning alone keeps BOTH groups (ranges overlap); the
        # bloom drops the B group
        assert files and all(ga in f for f in files)
        assert [r.v for r in df.collect()] == ["A"]
        # a key in NEITHER group: bloom prunes everything
        import hashlib

        ghost = hashlib.md5(b"ghost").hexdigest()
        assert t.read(spark, where={"k": (ghost, ghost)}).inputFiles() == []

    def test_merge_touch_test_uses_blooms(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import merge_into

        t, keys_a, keys_b = self._hash_table(spark, tmp_path)
        m0 = t._load_manifest(t.latest_version())
        ga, gb = m0["groups"]
        mt = lambda rows: spark.createDataFrame(rows, "k string, v string")
        # update ONE key from group A: B must be carried by reference
        # even though its lexical box contains the key
        before = {g: os.listdir(os.path.join(t.path, g)) for g in (ga, gb)}
        merge_into(t, spark, mt([(keys_a[3], "A3v2")]), key="k")
        m1 = t._load_manifest(t.latest_version())
        assert gb in m1["groups"] and ga not in m1["groups"]
        # insert-only merge of a brand-new hash key: NOTHING rewrites
        import hashlib

        newk = hashlib.md5(b"brand-new").hexdigest()
        pre_groups = list(m1["groups"])
        merge_into(t, spark, mt([(newk, "new")]), key="k")
        m2 = t._load_manifest(t.latest_version())
        assert set(pre_groups) <= set(m2["groups"])  # all carried
        # correctness end-to-end
        got = {r.k: r.v for r in t.read(spark).collect()}
        assert got[keys_a[3]] == "A3v2" and got[newk] == "new"
        assert got[keys_b[5]] == "B" and len(got) == 81

    def test_new_groups_bloom_automatically(self, spark, tmp_path):
        t, _, _ = self._hash_table(spark, tmp_path)
        import hashlib

        ks = [hashlib.md5(f"c{i}".encode()).hexdigest() for i in range(10)]
        t.commit(
            spark.createDataFrame([(k, "C") for k in ks], "k string, v string")
        )
        m = t._load_manifest(t.latest_version())
        newg = m["groups"][-1]
        assert "k" in (m["stats"][newg].get("_bloom") or {})
        # and the new group participates in point pruning
        df = t.read(spark, where={"k": (ks[0], ks[0])})
        assert df.inputFiles() and all(newg in f for f in df.inputFiles())

    def test_vacuum_reclaims_bloom_sidecars_with_their_groups(
        self, spark, tmp_path
    ):
        """Sidecars live inside the group dir, so vacuum reclaims them
        with the group — no orphan index files — and the surviving
        snapshot's blooms keep working afterwards."""
        from file_stream_import_spark.io.versioned import merge_into

        t, keys_a, keys_b = self._hash_table(spark, tmp_path)
        mt = lambda rows: spark.createDataFrame(rows, "k string, v string")
        merge_into(t, spark, mt([(keys_a[0], "A0v2")]), key="k")
        removed = t.vacuum(keep_versions=1, min_age_seconds=0)
        assert removed  # the rewritten A group (and its sidecar) went
        for g in removed:
            assert not os.path.exists(os.path.join(t.path, g))
        # blooms on surviving groups still prune point reads
        v = keys_b[2]
        m = t._load_manifest(t.latest_version())
        files = t.read(spark, where={"k": (v, v)}).inputFiles()
        hit = {f.split("/data/")[1].split("/")[0] for f in files}
        assert 1 <= len(hit) < len(m["groups"])
        # and merges still bloom their new groups
        merge_into(t, spark, mt([(keys_b[1], "B1v2")]), key="k")
        m2 = t._load_manifest(t.latest_version())
        newg = [g for g in m2["groups"] if g not in m["groups"]]
        assert newg and "k" in (m2["stats"][newg[0]].get("_bloom") or {})

    def test_rebase_uses_blooms_on_hash_keys(self, spark, tmp_path):
        """Concurrency x blooms: on md5 keys every key box spans the
        whole hex space, so box validation alone would conflict ANY two
        concurrent merges. The membership probe against the concurrent
        group's bloom sidecar proves disjointness and lets the second
        writer rebase; a genuinely shared key still conflicts."""
        from file_stream_import_spark.io.versioned import merge_into

        t, keys_a, keys_b = self._hash_table(spark, tmp_path)
        pinned = t.latest_version()
        mt = lambda rows: spark.createDataFrame(rows, "k string, v string")
        merge_into(
            t, spark, mt([(keys_a[0], "A0v2")]), key="k",
            expected_parent=pinned,
        )
        v = merge_into(
            t, spark, mt([(keys_b[0], "B0v2")]), key="k",
            expected_parent=pinned,
        )
        m = t._load_manifest(v)
        assert m.get("rebased_from") == pinned  # bloom-proved disjoint
        got = {r.k: r.v for r in t.read(spark).collect()}
        assert got[keys_a[0]] == "A0v2" and got[keys_b[0]] == "B0v2"
        # same key concurrently: true conflict survives the bloom era
        pinned2 = t.latest_version()
        merge_into(
            t, spark, mt([(keys_a[1], "X")]), key="k",
            expected_parent=pinned2,
        )
        with pytest.raises(CommitConflictError):
            merge_into(
                t, spark, mt([(keys_a[1], "Y")]), key="k",
                expected_parent=pinned2,
            )

    def test_int_key_type_sensitive_hashing(self, spark, tmp_path):
        """xxhash64 is type-sensitive: the point-lookup literal must be
        cast to the column's declared type or every probe misses."""
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(50)], "k int, v string"
            )
        )
        t.set_bloom_columns(spark, ["k"])
        df = t.read(spark, where={"k": (7, 7)})
        assert [r.v for r in df.collect()] == ["v7"]  # bloom didn't lie


class TestDmlRebase:
    """r7 extension of validate-and-rebase beyond MERGE/APPLY/append:
    merge-on-read DELETE composes with concurrent appends and other
    deletes; pruned UPDATE rebases like MERGE on its prune box."""

    def _kv(self, spark, rows):
        return spark.createDataFrame(rows, "k long, v string")

    def test_mor_delete_rebases_over_concurrent_append(
        self, spark, tmp_path
    ):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._kv(spark, [(1, "a"), (2, "b")]))
        base = t.latest_version()
        # interleave: appender lands between the delete's read and
        # publish — simulate by publishing the append first, then
        # running the delete computed against the PINNED base manifest
        # (latest_version is patched to the stale base until the first
        # publish attempt, which restores it — the loser then rebases)
        t.commit(self._kv(spark, [(1, "reinserted"), (9, "z")]))
        orig = VersionedTable.latest_version
        real_publish = VersionedTable._publish
        try:
            VersionedTable.latest_version = lambda self: base

            def restore_then_publish(self, parent, manifest, txn=None, **kw):
                VersionedTable.latest_version = orig
                return real_publish(self, parent, manifest, txn=txn, **kw)

            VersionedTable._publish = restore_then_publish
            from pyspark.sql import functions as F

            v = t.delete_where(
                spark, F.col("k") == 1, strategy="merge-on-read",
                key_cols=["k"],
            )
        finally:
            VersionedTable.latest_version = orig
            VersionedTable._publish = real_publish
        m = t._load_manifest(v)
        assert m.get("rebased_from") == base
        got = dict((r.k, r.v) for r in t.read(spark).collect())
        # k=1 deleted from the scoped (pre-append) group; the
        # concurrently APPENDED k=1 survives — documented MoR scoping
        assert got == {1: "reinserted", 2: "b", 9: "z"}

    def test_mor_deletes_compose(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._kv(spark, [(1, "a"), (2, "b"), (3, "c")]))
        base = t.latest_version()
        t.delete_where(
            spark, F.col("k") == 2, strategy="merge-on-read",
            key_cols=["k"],
        )
        # second delete computed against the PRE-delete base manifest
        orig = VersionedTable.latest_version
        real_publish = VersionedTable._publish
        try:
            VersionedTable.latest_version = lambda self: base

            def restore_then_publish(self, parent, manifest, txn=None, **kw):
                VersionedTable.latest_version = orig
                return real_publish(self, parent, manifest, txn=txn, **kw)

            VersionedTable._publish = restore_then_publish
            v = t.delete_where(
                spark, F.col("k") == 3, strategy="merge-on-read",
                key_cols=["k"],
            )
        finally:
            VersionedTable.latest_version = orig
            VersionedTable._publish = real_publish
        m = t._load_manifest(v)
        assert m.get("rebased_from") == base
        assert len(m["delete_entries"]) == 2  # both sidecars survive
        assert sorted(r.k for r in t.read(spark).collect()) == [1]

    def test_mor_delete_conflicts_when_group_rewritten(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.versioned import merge_into
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._kv(spark, [(1, "a"), (2, "b")]))
        base = t.latest_version()
        # concurrent MERGE rewrites the only group
        merge_into(t, spark, self._kv(spark, [(2, "B2")]), key="k")
        orig = VersionedTable.latest_version
        real_publish = VersionedTable._publish
        try:
            VersionedTable.latest_version = lambda self: base

            def restore_then_publish(self, parent, manifest, txn=None, **kw):
                VersionedTable.latest_version = orig
                return real_publish(self, parent, manifest, txn=txn, **kw)

            VersionedTable._publish = restore_then_publish
            with pytest.raises(CommitConflictError, match="rewrote"):
                t.delete_where(
                    spark, F.col("k") == 1, strategy="merge-on-read",
                    key_cols=["k"],
                )
        finally:
            VersionedTable.latest_version = orig
            VersionedTable._publish = real_publish

    def test_pruned_update_rebases_over_disjoint_merge(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.versioned import merge_into
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._kv(spark, [(i, f"lo{i}") for i in range(10)]))
        t.commit(self._kv(spark, [(100 + i, f"hi{i}") for i in range(10)]))
        base = t.latest_version()
        # concurrent merge touches the LOW group
        merge_into(t, spark, self._kv(spark, [(3, "A3")]), key="k")
        orig = VersionedTable.latest_version
        real_publish = VersionedTable._publish
        try:
            VersionedTable.latest_version = lambda self: base

            def restore_then_publish(self, parent, manifest, txn=None, **kw):
                VersionedTable.latest_version = orig
                return real_publish(self, parent, manifest, txn=txn, **kw)

            VersionedTable._publish = restore_then_publish
            v = t.update_where(
                spark,
                F.col("k") == 105,
                {"v": F.lit("UPDATED")},
                prune_where={"k": (100, 109)},
            )
        finally:
            VersionedTable.latest_version = orig
            VersionedTable._publish = real_publish
        m = t._load_manifest(v)
        assert m.get("rebased_from") == base
        got = dict((r.k, r.v) for r in t.read(spark).collect())
        assert got[105] == "UPDATED" and got[3] == "A3"  # neither lost


class TestNonFiniteStats:
    """Non-finite float min/max (NaN/±inf) must yield NO stats entry for
    the column — never the None/None encoding that read-side pruning
    interprets as 'all NULL, provably prunable' (ADVICE r6: a group with
    min=1.0/max=inf was silently pruned under lo=2.0)."""

    def _fx(self, spark, rows):
        return spark.createDataFrame(rows, "k long, x double")

    def test_inf_column_omits_stats_entry(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._fx(spark, [(1, 1.0), (2, float("inf"))]))
        m = t._load_manifest(0)
        (g,) = m["groups"]
        st = m["stats"][g]
        assert "x" not in st  # unusable ordering stats: omitted entirely
        assert st["k"] == {"min": 1, "max": 2, "nulls": 0, "sum": "3"}

    def test_inf_group_not_pruned_by_read_where(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._fx(spark, [(1, 1.0), (2, float("inf"))]))
        t.commit(self._fx(spark, [(3, 5.0), (4, 7.0)]))
        df = t.read(spark, where={"x": (2.0, None)})
        got = sorted(r.k for r in df.collect())
        assert got == [2, 3, 4]  # the inf row survives the bound

    def test_nan_group_not_pruned(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._fx(spark, [(1, float("nan")), (2, 3.0)]))
        df = t.read(spark, where={"x": (2.0, 4.0)})
        assert sorted(r.k for r in df.collect()) == [2]

    def test_all_null_column_still_prunable(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(self._fx(spark, [(1, None), (2, None)]))
        m = t._load_manifest(0)
        (g,) = m["groups"]
        # all-NULL keeps the None/None entry — that prune is CORRECT
        assert m["stats"][g]["x"] == {
            "min": None, "max": None, "nulls": 2, "sum": None,
        }
        df = t.read(spark, where={"x": (0.0, 9.0)})
        assert df.count() == 0 and df.inputFiles() == []

    def test_merge_treats_inf_key_group_as_touchable(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import merge_into

        t = VersionedTable(str(tmp_path / "t"))
        # group whose MERGE key column contains +inf: stats omitted, so
        # the touch test must fall back to conservative rewrite
        t.commit(self._fx(spark, [(10, 1.0), (20, float("inf"))]))
        upd = self._fx(spark, [(20, 99.0)])
        merge_into(t, spark, upd, key="k")
        got = sorted((r.k, r.x) for r in t.read(spark).collect())
        assert got == [(10, 1.0), (20, 99.0)]
        # now the key itself non-finite: merge on x must not mark the
        # group provably-untouched (duplicate-key corruption otherwise)
        t2 = VersionedTable(str(tmp_path / "t2"))
        t2.commit(
            spark.createDataFrame(
                [(1.0, "a"), (float("inf"), "b")], "x double, v string"
            )
        )
        merge_into(
            t2,
            spark,
            spark.createDataFrame([(float("inf"), "B2")], "x double, v string"),
            key="x",
        )
        got2 = sorted((r.x, r.v) for r in t2.read(spark).collect())
        assert got2 == [(1.0, "a"), (float("inf"), "B2")]


class TestVersionedDataSource:
    """Batch Python DataSource over the versioned table with Catalyst
    filter pushdown pruning manifest groups (Spark 4.1 pushFilters)."""

    def _build(self, spark, path):
        t = VersionedTable(path)
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        t.commit(mk([(1, "a"), (10, "b")]))
        t.commit(mk([(11, "c"), (20, "d")]))
        t.commit(mk([(21, "e"), (30, "f")]))
        return t

    def test_reader_prunes_partitions_by_bound_options(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            VersionedTableReader,
        )

        p = str(tmp_path / "t")
        self._build(spark, p)
        n_all = len(VersionedTableReader({"path": p}).partitions())
        r = VersionedTableReader({"path": p, "min.k": "11", "max.k": "20"})
        n_pruned = len(r.partitions())
        assert 0 < n_pruned < n_all  # only the middle group's files

    def test_end_to_end_bounds_and_time_travel(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            VersionedTableDataSource,
        )

        p = str(tmp_path / "t")
        self._build(spark, p)
        spark.dataSource.register(VersionedTableDataSource)
        ranged = (
            spark.read.format("versioned_table")
            .option("path", p)
            .option("min.k", "11")
            .option("max.k", "20")
            .load()
        )
        assert sorted((r.k, r.v) for r in ranged.collect()) == [
            (11, "c"), (20, "d"),
        ]
        # bounds are per-load options: an unbounded load is unaffected
        df = spark.read.format("versioned_table").option("path", p).load()
        assert df.count() == 6
        # exactness: a bound INSIDE a surviving group's range filters
        # rows, not just groups
        narrow = (
            spark.read.format("versioned_table")
            .option("path", p)
            .option("min.k", "12")
            .option("max.k", "20")
            .load()
        )
        assert sorted(r.k for r in narrow.collect()) == [20]
        # time travel via option
        v0 = (
            spark.read.format("versioned_table")
            .option("path", p)
            .option("version", 0)
            .load()
        )
        assert sorted(r.k for r in v0.collect()) == [1, 10]

    def test_evolved_groups_read_nulls(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            VersionedTableDataSource,
        )

        p = str(tmp_path / "t")
        t = VersionedTable(p)
        t.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
        t.commit(
            spark.createDataFrame(
                [(2, "b", 9.5)], "k long, v string, score double"
            ),
            allow_evolution=True,
        )
        spark.dataSource.register(VersionedTableDataSource)
        df = spark.read.format("versioned_table").option("path", p).load()
        got = sorted(
            (r.k, r.v, r.score) for r in df.collect()
        )
        assert got == [(1, "a", None), (2, "b", 9.5)]

    def test_pending_mor_deletes_fail_fast(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from file_stream_import_spark.io.pysource import (
            VersionedTableReader,
        )

        p = str(tmp_path / "t")
        t = self._build(spark, p)
        t.delete_where(
            spark, F.col("k") == 1, strategy="merge-on-read", key_cols=["k"]
        )
        with pytest.raises(NotImplementedError, match="optimize"):
            VersionedTableReader({"path": p}).partitions()


class TestRealConcurrency:
    def test_two_threads_race_one_commit_wins(self, spark, tmp_path):
        """REAL race, not a simulation: two threads, released by a
        barrier, publish against the same parent version. The os.link
        create-if-absent protocol guarantees exactly one wins; the
        loser gets CommitConflictError and its retry lands on the next
        version. No manifest is ever overwritten."""
        import threading

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame([(0, "base")], "k long, v string")
        )
        m0 = t._load_manifest(0)
        barrier = threading.Barrier(2)
        outcomes: dict[str, object] = {}

        def writer(name: str) -> None:
            barrier.wait()
            try:
                v = t._publish(
                    0,
                    {
                        "schema": m0["schema"],
                        "groups": list(m0["groups"]),
                        "mode": f"append-{name}",
                        "added": [],
                        "delete_entries": [],
                        "stats": {},
                    },
                )
                outcomes[name] = ("ok", v)
            except CommitConflictError:
                # loser retries against the NEW latest
                v = t._publish(
                    t.latest_version(),
                    {
                        "schema": m0["schema"],
                        "groups": list(m0["groups"]),
                        "mode": f"retry-{name}",
                        "added": [],
                        "delete_entries": [],
                        "stats": {},
                    },
                )
                outcomes[name] = ("retried", v)

        threads = [
            threading.Thread(target=writer, args=(n,)) for n in ("a", "b")
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
        kinds = sorted(k for k, _ in outcomes.values())
        assert kinds == ["ok", "retried"], outcomes
        assert sorted(v for _, v in outcomes.values()) == [1, 2]
        # lineage is a clean chain; no version was clobbered
        assert t.versions() == [0, 1, 2]
        modes = [t._load_manifest(v)["mode"] for v in (1, 2)]
        assert modes[0].startswith("append-")
        assert modes[1].startswith("retry-")

    def test_optimize_zorder_prunes_both_dimensions(self, spark, tmp_path):
        """Multi-column clustering: after OPTIMIZE CLUSTER BY (x, y)
        via the Morton key, a narrow predicate on EITHER dimension
        prunes groups — the multi-dimensional data-skipping claim."""
        t = VersionedTable(str(tmp_path / "t"))
        rows = [(i, i % 16, i // 16) for i in range(256)]
        # interleaved appends: every group spans the full x/y space
        mk = lambda rs: spark.createDataFrame(rs, "i long, x long, y long")
        t.commit(mk(rows[0::2]))
        t.commit(mk(rows[1::2]))
        v = t.optimize(spark, cluster_by=["x", "y"], target_groups=4)
        m = t._load_manifest(v)
        assert len(m["groups"]) == 4

        def scanned(where):
            df = t.read(spark, where=where)
            return {f.split("/data/")[1].split("/")[0] for f in df.inputFiles()}

        all_groups = {g.split("/")[-1] for g in m["groups"]}
        x_narrow = scanned({"x": (0, 3)})
        y_narrow = scanned({"y": (0, 3)})
        assert x_narrow < all_groups  # strict subset: x prunes
        assert y_narrow < all_groups  # and so does y
        # correctness unchanged
        assert sorted(
            r.i for r in t.read(spark, where={"x": (0, 3)}).collect()
        ) == sorted(i for i, x, _ in rows if x <= 3)


class TestTableReplication:
    def test_changefeed_replicates_exactly_once_across_restart(
        self, spark, tmp_path
    ):
        """The lakehouse pieces COMPOSED: table A's changefeed streams
        into table B through the idempotent writer — then the stream
        restarts from its checkpoint and replays. B must equal A with
        no duplicates (exactly-once replication, Delta's
        table-to-table streaming pattern)."""
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )
        from file_stream_import_spark.io.versioned import (
            make_idempotent_table_writer,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        a = VersionedTable(str(tmp_path / "a"))
        b = VersionedTable(str(tmp_path / "b"))
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        a.commit(mk([(1, "a"), (2, "b")]))
        a.commit(mk([(3, "c")]))
        ckpt = str(tmp_path / "ckpt")
        writer = make_idempotent_table_writer(b, "replicate")

        def run_stream():
            q = (
                spark.readStream.format("table_changefeed")
                .option("path", str(tmp_path / "a"))
                .load()
                .writeStream.foreachBatch(writer)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            q.stop()

        run_stream()
        assert sorted((r.k, r.v) for r in b.read(spark).collect()) == [
            (1, "a"), (2, "b"), (3, "c"),
        ]
        # more commits land on A; the stream restarts from checkpoint
        # (foreachBatch replays the last batch at-least-once — the
        # idempotent writer must absorb it)
        a.commit(mk([(4, "d")]))
        run_stream()
        got = sorted((r.k, r.v) for r in b.read(spark).collect())
        assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]

    def test_merge_composite_key_box_pruning(self, spark, tmp_path):
        """Multi-column merge keys prune on the PER-COLUMN box: a group
        is touched only if some update row falls inside its (k1, k2)
        stats box — range overlap in one dimension alone is not
        enough."""
        from file_stream_import_spark.io.versioned import merge_into

        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(
            rows, "k1 long, k2 long, v string"
        )
        def mtimes(groups):
            out = {}
            for g in groups:
                d = os.path.join(t.path, g)
                out[g] = sorted(
                    (f, os.path.getmtime(os.path.join(d, f)))
                    for f in os.listdir(d)
                )
            return out

        t.commit(mk([(1, 100, "a"), (5, 200, "b")]))    # k2 in [100,200]
        t.commit(mk([(1, 900, "c"), (5, 950, "d")]))    # k2 in [900,950]
        g1, g2 = t._load_manifest(1)["groups"]
        before = mtimes([g2])
        # k1=1 overlaps BOTH groups, but k2=150 only the first's box
        merge_into(
            t, spark, mk([(1, 150, "UPD")]), key=["k1", "k2"]
        )
        m = t._load_manifest(t.latest_version())
        assert g2 in m["groups"] and g1 not in m["groups"]
        assert mtimes([g2]) == before
        got = sorted((r.k1, r.k2, r.v) for r in t.read(spark).collect())
        assert got == [
            (1, 100, "a"), (1, 150, "UPD"), (1, 900, "c"),
            (5, 200, "b"), (5, 950, "d"),
        ]

    def test_touch_test_chunks_many_groups(self, spark, tmp_path, monkeypatch):
        """Many-commit tables: the merge touch test must not build one
        aggregate over every candidate group — with the chunk size
        forced to 2, six groups take three passes and the pruning
        result is unchanged."""
        from file_stream_import_spark.io import versioned as V

        monkeypatch.setattr(V, "_TOUCH_CHUNK", 2)
        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        for g in range(6):
            t.commit(mk([(10 * g, f"a{g}"), (10 * g + 5, f"b{g}")]))
        olds = t._load_manifest(5)["groups"]
        V.merge_into(t, spark, mk([(25, "UPD")]), key="k")
        m = t._load_manifest(t.latest_version())
        # only group 2 (keys 20..25) rewritten; the other five by ref
        survivors = [g for g in olds if g in m["groups"]]
        assert len(survivors) == 5 and olds[2] not in m["groups"]
        got = dict((r.k, r.v) for r in t.read(spark).collect())
        assert got[25] == "UPD" and len(got) == 12


class TestApplyChanges:
    def test_mixed_changelog_applies_with_lww_and_pruning(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.versioned import apply_changes

        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        t.commit(mk([(1, "a"), (10, "b")]))
        t.commit(mk([(11, "c"), (20, "d")]))
        g1 = t._load_manifest(1)["groups"][0]

        def mtimes(g):
            d = os.path.join(t.path, g)
            return sorted(
                (f, os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d)
            )

        before = mtimes(g1)
        ch = spark.createDataFrame(
            [
                # two changes to key 11: seq resolves to the UPDATE
                (11, "stale", "U", 1),
                (11, "C2", "U", 2),
                (20, None, "D", 1),     # delete
                (25, "e", "I", 1),      # insert
                (30, None, "D", 1),     # delete of a nonexistent key
            ],
            "k long, v string, op string, seq long",
        )
        apply_changes(t, spark, ch, key="k", seq_col="seq")
        got = sorted((r.k, r.v) for r in t.read(spark).collect())
        assert got == [(1, "a"), (10, "b"), (11, "C2"), (25, "e")]
        # group 1 (keys 1..10, untouched by any change key) by reference
        m = t._load_manifest(t.latest_version())
        assert g1 in m["groups"] and mtimes(g1) == before

    def test_bad_ops_and_duplicate_keys_fail(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import apply_changes

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
        bad = spark.createDataFrame(
            [(1, "x", "UPSERT")], "k long, v string, op string"
        )
        with pytest.raises(ValueError, match="unknown changelog op"):
            apply_changes(t, spark, bad, key="k")
        dup = spark.createDataFrame(
            [(1, "x", "U"), (1, "y", "U")], "k long, v string, op string"
        )
        with pytest.raises(ValueError, match="seq_col"):
            apply_changes(t, spark, dup, key="k")

    def test_bootstraps_empty_table_with_upserts_only(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import apply_changes

        t = VersionedTable(str(tmp_path / "t"))
        ch = spark.createDataFrame(
            [(1, "a", "I"), (2, None, "D")], "k long, v string, op string"
        )
        apply_changes(t, spark, ch, key="k")
        assert sorted((r.k, r.v) for r in t.read(spark).collect()) == [
            (1, "a")
        ]

    def test_streaming_cdc_writer_exactly_once_across_restart(
        self, spark, tmp_path
    ):
        """CDC stream -> lake: JSONL changelog files stream through
        foreachBatch apply_changes; a checkpoint restart replays the
        last batch and the txn watermark must absorb it — final state
        equals the ordered application of all change files, once."""
        import json as _json

        from pyspark.sql import types as T

        from file_stream_import_spark.io.versioned import (
            make_idempotent_cdc_writer,
        )

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame(
                [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
            )
        )
        drop = tmp_path / "cdc"
        drop.mkdir()
        ckpt = str(tmp_path / "ckpt")
        schema = T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("v", T.StringType()),
                T.StructField("op", T.StringType()),
                T.StructField("seq", T.LongType()),
            ]
        )
        writer = make_idempotent_cdc_writer(
            t, "cdc", key="k", seq_col="seq"
        )

        def run():
            q = (
                spark.readStream.schema(schema)
                .json(str(drop))
                .writeStream.foreachBatch(writer)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            q.stop()

        (drop / "b1.json").write_text(
            "\n".join(
                _json.dumps(r)
                for r in [
                    {"k": 2, "v": "B2", "op": "U", "seq": 1},
                    {"k": 3, "v": None, "op": "D", "seq": 1},
                ]
            )
        )
        run()
        assert sorted((r.k, r.v) for r in t.read(spark).collect()) == [
            (1, "a"), (2, "B2"),
        ]
        (drop / "b2.json").write_text(
            _json.dumps({"k": 4, "v": "d", "op": "I", "seq": 1})
        )
        run()  # restart from checkpoint: b1's epoch must not re-apply
        got = sorted((r.k, r.v) for r in t.read(spark).collect())
        assert got == [(1, "a"), (2, "B2"), (4, "d")]
        hw = t._load_manifest(t.latest_version())["txn"]["cdc"]
        assert hw >= 1


class TestSnapshotDiff:
    def test_diff_raises_on_duplicate_keys(self, spark, tmp_path):
        """Append-built table with a duplicated key: the r7 uniqueness
        probe raises instead of silently multiplying rows through the
        full-outer join (verdict-r6 item 8)."""
        from file_stream_import_spark.io.versioned import snapshot_diff

        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        t.commit(mk([(0, "seed")]))
        v0 = t.latest_version()
        # raw appends: key 1 lands TWICE across the two new groups the
        # diff must read (the seed group is shared and skipped)
        t.commit(mk([(1, "x")]))
        t.commit(mk([(1, "y"), (2, "b")]))
        v1 = t.latest_version()
        with pytest.raises(ValueError, match="key-unique"):
            snapshot_diff(t, spark, v0, v1, key="k").collect()

    def test_diff_reports_iud_and_skips_shared_groups(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import (
            apply_changes,
            snapshot_diff,
        )

        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        t.commit(mk([(1, "a"), (10, "b")]))      # group A
        t.commit(mk([(11, "c"), (20, "d")]))     # group B
        v0 = t.latest_version()
        ch = spark.createDataFrame(
            [(11, "C2", "U"), (20, None, "D"), (25, "e", "I")],
            "k long, v string, op string",
        )
        v1 = apply_changes(t, spark, ch, key="k")
        d = snapshot_diff(t, spark, v0, v1, key="k")
        got = sorted(
            (r.k, r.change,
             None if r.old is None else r.old.v,
             None if r.new is None else r.new.v)
            for r in d.collect()
        )
        assert got == [
            (11, "U", "c", "C2"),
            (20, "D", "d", None),
            (25, "I", None, "e"),
        ]
        # manifest-aware: group A is shared between the snapshots and
        # must not be scanned by either side
        ga = t._load_manifest(0)["groups"][0]
        assert not any(ga in f for f in d.inputFiles())

    def test_diff_sees_mor_delete_on_shared_group(self, spark, tmp_path):
        """A merge-on-read DELETE changes no group list — only the
        delete entries. The shared-group skip must notice the entry
        difference and still report the deletion."""
        from pyspark.sql import functions as F

        from file_stream_import_spark.io.versioned import snapshot_diff

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "k long, v string"
            )
        )
        v0 = t.latest_version()
        v1 = t.delete_where(
            spark, F.col("k") == 2, strategy="merge-on-read",
            key_cols=["k"],
        )
        d = snapshot_diff(t, spark, v0, v1, key="k")
        got = [(r.k, r.change) for r in d.collect()]
        assert got == [(2, "D")]

    def test_diff_across_evolution_aligns_columns(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import snapshot_diff

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
        v0 = t.latest_version()
        v1 = t.commit(
            spark.createDataFrame(
                [(2, "b", 9.5)], "k long, v string, score double"
            ),
            allow_evolution=True,
        )
        d = snapshot_diff(t, spark, v0, v1, key="k")
        got = sorted((r.k, r.change, r.new.score if r.new else None)
                     for r in d.collect())
        # key 1 lives in a shared group -> unchanged, not emitted
        assert got == [(2, "I", 9.5)]


class TestUpdateWhere:
    def test_update_with_pruning_and_null_condition(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        t.commit(mk([(1, "a"), (10, None)]))
        t.commit(mk([(11, "c"), (20, "d")]))
        g1 = t._load_manifest(1)["groups"][0]

        def mtimes(g):
            d = os.path.join(t.path, g)
            return sorted(
                (f, os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d)
            )

        before = mtimes(g1)
        # condition references v: NULL for k=10 -> row must stay
        t.update_where(
            spark,
            (F.col("v") < "d") & (F.col("k") >= 11),
            {"v": F.upper("v")},
            prune_where={"k": (11, None)},
        )
        got = sorted((r.k, r.v) for r in t.read(spark).collect())
        assert got == [(1, "a"), (10, None), (11, "C"), (20, "d")]
        # group 1 pruned by the caller's bound: carried by reference
        m = t._load_manifest(t.latest_version())
        assert g1 in m["groups"] and mtimes(g1) == before
        assert m["mode"] == "update"
        # pre-update state still time-travelable
        assert sorted(
            (r.k, r.v) for r in t.read(spark, 1).collect()
        ) == [(1, "a"), (10, None), (11, "c"), (20, "d")]


class TestCheckConstraints:
    def test_add_validate_enforce_and_drop(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import (
            ConstraintViolationError,
            merge_into,
        )

        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(rows, "k long, v long")
        t.commit(mk([(1, 10), (2, 20)]))
        t.add_check_constraint(spark, "v_positive", "v > 0")
        assert t.constraints() == {"v_positive": "v > 0"}
        # appends validate INSIDE the write job; the bad batch rejects
        # whole and leaves the table state untouched
        v_before = t.latest_version()
        with pytest.raises(ConstraintViolationError, match="v_positive"):
            t.commit(mk([(3, -5)]))
        assert t.latest_version() == v_before
        assert t.read(spark).count() == 2
        # the rejected group is an unreferenced orphan: vacuum reclaims
        assert t.vacuum(keep_versions=10, min_age_seconds=0)
        # MERGE enforces too
        with pytest.raises(ConstraintViolationError):
            merge_into(t, spark, mk([(2, -1)]), key="k")
        # good data flows; constraint survives further commits
        t.commit(mk([(3, 30)]))
        assert t.constraints() == {"v_positive": "v > 0"}
        # NULL passes (SQL CHECK semantics)
        t.commit(
            spark.createDataFrame([(4, None)], "k long, v long")
        )
        assert t.read(spark).count() == 4
        # drop: metadata-only, then negative rows are accepted again
        t.drop_check_constraint("v_positive")
        t.commit(mk([(5, -50)]))
        assert t.read(spark).count() == 5

    def test_add_rejects_when_existing_data_violates(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import (
            ConstraintViolationError,
        )

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame([(1, -1)], "k long, v long")
        )
        with pytest.raises(ConstraintViolationError, match="existing"):
            t.add_check_constraint(spark, "v_positive", "v > 0")
        with pytest.raises(ValueError, match="no constraint"):
            t.drop_check_constraint("v_positive")

    def test_datasource_date_bounds_prune(self, spark, tmp_path):
        """Date-typed bound options: ISO text comparison against the
        ISO-stored stats prunes groups, and the Arrow row filter (date
        cast to ISO string) keeps the view exact."""
        import datetime

        from file_stream_import_spark.io.pysource import (
            VersionedTableDataSource,
            VersionedTableReader,
        )

        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(rows, "d date, v string")
        t.commit(mk([(datetime.date(2024, 1, 1), "a"),
                     (datetime.date(2024, 1, 31), "b")]))
        t.commit(mk([(datetime.date(2024, 6, 1), "c"),
                     (datetime.date(2024, 6, 30), "d")]))
        n_all = len(VersionedTableReader({"path": t.path}).partitions())
        r = VersionedTableReader(
            {"path": t.path, "min.d": "2024-06-01", "max.d": "2024-06-15"}
        )
        assert 0 < len(r.partitions()) < n_all
        spark.dataSource.register(VersionedTableDataSource)
        df = (
            spark.read.format("versioned_table")
            .option("path", t.path)
            .option("min.d", "2024-06-01")
            .option("max.d", "2024-06-15")
            .load()
        )
        assert [(str(x.d), x.v) for x in df.collect()] == [
            ("2024-06-01", "c")
        ]

    def test_datasource_timestamp_bounds_prune_and_filter(
        self, spark, tmp_path
    ):
        """Timestamp-typed bounds (ADVICE r6): exec-time filtering runs
        on the native Arrow timestamp kernel (no string cast — that
        raised ArrowNotImplementedError), and plan-time pruning
        normalizes SPACE-separated bound text to the stats' ISO-'T'
        form so ordering is chronological."""
        import datetime

        from file_stream_import_spark.io.pysource import (
            VersionedTableDataSource,
            VersionedTableReader,
        )

        dt = datetime.datetime
        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(
            rows, "ts timestamp, v string"
        )
        t.commit(mk([(dt(2024, 1, 1, 8, 0, 0), "a"),
                     (dt(2024, 1, 31, 9, 30, 0), "b")]))
        t.commit(mk([(dt(2024, 6, 1, 10, 0, 0), "c"),
                     (dt(2024, 6, 30, 23, 59, 59), "d")]))
        n_all = len(VersionedTableReader({"path": t.path}).partitions())
        # SPACE-separated bound text must prune the January group
        r = VersionedTableReader(
            {
                "path": t.path,
                "min.ts": "2024-06-01 00:00:00",
                "max.ts": "2024-06-15 00:00:00",
            }
        )
        assert 0 < len(r.partitions()) < n_all
        spark.dataSource.register(VersionedTableDataSource)
        for lo, hi in [
            ("2024-06-01 00:00:00", "2024-06-15 00:00:00"),  # space
            ("2024-06-01T00:00:00", "2024-06-15T00:00:00"),  # ISO 'T'
        ]:
            df = (
                spark.read.format("versioned_table")
                .option("path", t.path)
                .option("min.ts", lo)
                .option("max.ts", hi)
                .load()
            )
            assert [(x.ts, x.v) for x in df.collect()] == [
                (dt(2024, 6, 1, 10, 0, 0), "c")
            ]

    def test_constraints_survive_optimize_and_rollback(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import (
            ConstraintViolationError,
        )

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame([(i, i * 10) for i in range(8)],
                                  "k long, v long")
        )
        t.add_check_constraint(spark, "v_nonneg", "v >= 0")
        t.optimize(spark, cluster_by="k", target_groups=2)
        assert t.constraints() == {"v_nonneg": "v >= 0"}
        t.rollback(t.latest_version() - 1)
        assert t.constraints() == {"v_nonneg": "v >= 0"}
        with pytest.raises(ConstraintViolationError):
            t.commit(
                spark.createDataFrame([(99, -1)], "k long, v long")
            )

    def test_datasource_timestamp_as_of(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            VersionedTableDataSource,
        )

        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        t.commit(mk([(1, "a")]))
        ts0 = t._load_manifest(0)["committed_at"]
        t.commit(mk([(2, "b")]))
        spark.dataSource.register(VersionedTableDataSource)
        df = (
            spark.read.format("versioned_table")
            .option("path", t.path)
            .option("timestampAsOf", str(ts0))
            .load()
        )
        assert sorted(r.k for r in df.collect()) == [1]
        import pytest as _p

        from file_stream_import_spark.io.pysource import (
            VersionedTableReader,
        )

        with _p.raises(ValueError, match="not both"):
            VersionedTableReader(
                {"path": t.path, "version": "0", "timestampasof": str(ts0)}
            )


class TestPrunedCopyOnWriteDelete:
    """Round-8: delete_where(prune_where=...) — O(delta) copy-on-write
    DELETE with the same box-disjointness rebase rule as UPDATE/MERGE:
    concurrent pruned deletes on disjoint ranges both land; overlap
    (or an unpruned full rewrite) still conflicts."""

    def _kv(self, spark, rows):
        return spark.createDataFrame(rows, "k long, v string")

    def _two_group_table(self, spark, tmp_path, name="t"):
        t = VersionedTable(str(tmp_path / name))
        t.commit(self._kv(spark, [(i, f"a{i}") for i in range(10)]))
        t.commit(self._kv(spark, [(100 + i, f"b{i}") for i in range(10)]))
        return t

    def test_untouched_groups_carry_by_reference(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = self._two_group_table(spark, tmp_path)
        base = t.latest_version()
        groups_before = t._load_manifest(base)["groups"]
        v = t.delete_where(
            spark, F.col("k") <= 5, prune_where={"k": (0, 5)}
        )
        m = t._load_manifest(v)
        # the 100s group was outside the box: same path, not rewritten
        assert groups_before[1] in m["groups"]
        assert groups_before[0] not in m["groups"]
        got = sorted(r.k for r in t.read(spark, v).collect())
        assert got == [6, 7, 8, 9] + list(range(100, 110))

    def test_disjoint_pruned_deletes_both_land(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = self._two_group_table(spark, tmp_path)
        base = t.latest_version()  # both writers pin the same snapshot
        v_a = t.delete_where(
            spark, F.col("k") <= 5, prune_where={"k": (0, 5)},
            expected_parent=base,
        )
        assert v_a == base + 1
        v_b = t.delete_where(
            spark, F.col("k").between(100, 105),
            prune_where={"k": (100, 105)}, expected_parent=base,
        )
        assert v_b == base + 2
        assert t._load_manifest(v_b).get("rebased_from") == base
        got = sorted(r.k for r in t.read(spark).collect())
        assert got == [6, 7, 8, 9, 106, 107, 108, 109]

    def test_threaded_disjoint_deletes_both_land(self, spark, tmp_path):
        import threading

        from pyspark.sql import functions as F

        t = self._two_group_table(spark, tmp_path, name="tt")
        base = t.latest_version()
        errs = []

        def run(lo, hi):
            try:
                t.delete_where(
                    spark, F.col("k").between(lo, hi),
                    prune_where={"k": (lo, hi)}, expected_parent=base,
                )
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        th_a = threading.Thread(target=run, args=(0, 5))
        th_b = threading.Thread(target=run, args=(100, 105))
        th_a.start(); th_b.start(); th_a.join(); th_b.join()
        assert errs == []
        got = sorted(r.k for r in t.read(spark).collect())
        assert got == [6, 7, 8, 9, 106, 107, 108, 109]

    def test_overlapping_pruned_deletes_conflict(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = self._two_group_table(spark, tmp_path)
        base = t.latest_version()
        t.delete_where(
            spark, F.col("k") <= 5, prune_where={"k": (0, 5)},
            expected_parent=base,
        )
        with pytest.raises(CommitConflictError):
            t.delete_where(
                spark, F.col("k").between(3, 8),
                prune_where={"k": (3, 8)}, expected_parent=base,
            )

    def test_unpruned_delete_still_conflicts(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = self._two_group_table(spark, tmp_path)
        base = t.latest_version()
        t.commit(self._kv(spark, [(200, "c")]))  # concurrent append
        with pytest.raises(CommitConflictError):
            t.delete_where(spark, F.col("k") <= 5, expected_parent=base)

    def test_prune_touching_nothing_is_a_noop(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = self._two_group_table(spark, tmp_path)
        base = t.latest_version()
        v = t.delete_where(
            spark, F.col("k") == 55, prune_where={"k": (55, 55)}
        )
        assert v == base  # no snapshot published
        assert t.read(spark).count() == 20

    def test_merge_on_read_rejects_prune_where(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = self._two_group_table(spark, tmp_path)
        with pytest.raises(ValueError, match="copy-on-write"):
            t.delete_where(
                spark, F.col("k") <= 5, strategy="merge-on-read",
                key_cols=["k"], prune_where={"k": (0, 5)},
            )

    def test_null_condition_keeps_rows(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / "tn"))
        t.commit(
            spark.createDataFrame(
                [(1, "a"), (2, None), (3, "c")], "k long, v string"
            )
        )
        t.delete_where(
            spark, F.col("v") == "a", prune_where={"k": (0, 10)}
        )
        got = sorted(r.k for r in t.read(spark).collect())
        assert got == [2, 3]  # NULL-evaluating condition keeps the row


class TestBloomBitsPerKey:
    """Round-8: the set_bloom_columns(bits_per_key=...) fpp knob —
    recorded in the manifest, inherited by later commits' automatic
    bloom builds, and actually moving the false-positive rate."""

    def _hash_table(self, spark, tmp_path, name):
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / name))
        df = spark.range(0, 100).select(
            F.md5(F.col("id").cast("string")).alias("k"),
            F.col("id").alias("payload"),
        )
        t.commit(df)
        return t

    def test_bits_recorded_and_inherited(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from file_stream_import_spark.io import versioned as V

        t = self._hash_table(spark, tmp_path, "t16")
        v = t.set_bloom_columns(spark, ["k"], bits_per_key=16)
        assert t._load_manifest(v)["bloom_bits"] == 16
        # a later commit inherits the declaration AND the sizing
        df2 = spark.range(100, 200).select(
            F.md5(F.col("id").cast("string")).alias("k"),
            F.col("id").alias("payload"),
        )
        v2 = t.commit(df2)
        m2 = t._load_manifest(v2)
        assert m2["bloom_bits"] == 16
        new_group = m2["added"][0]
        meta = m2["stats"][new_group]["_bloom"]["k"]
        assert meta["m"] == V._bloom_m(100, 16)

    def test_higher_bits_prune_low_bits_false_positive(
        self, spark, tmp_path, monkeypatch
    ):
        """Find a probe key that FALSELY passes the low-bits filter,
        then show the high-bits table prunes that same key. The min-m
        clamp is lowered so sizing is row-driven at this tiny scale
        (production groups are large enough that the clamp never
        binds the knob)."""
        from file_stream_import_spark.io import versioned as V

        monkeypatch.setattr(V, "_BLOOM_MIN_BITS", 64)
        t_lo = self._hash_table(spark, tmp_path, "lo")
        t_hi = self._hash_table(spark, tmp_path, "hi")
        t_lo.set_bloom_columns(spark, ["k"], bits_per_key=2)
        t_hi.set_bloom_columns(spark, ["k"], bits_per_key=64)

        def probe(t, value):
            m = t._load_manifest(t.latest_version())
            return V._bloom_prune_where(
                spark, m, list(m["groups"]), {"k": [value]}, t.path
            )

        # absent keys: md5 of ids far outside the committed range
        fp = None
        for i in range(500):
            import hashlib

            v = hashlib.md5(str(10_000 + i).encode()).hexdigest()
            if probe(t_lo, v):  # maybe-present though absent: a FP
                if not probe(t_hi, v):
                    fp = v
                    break
        assert fp is not None, (
            "no low-bits false positive found in 500 probes — with "
            "~55% fpp at 2 bits/key this is a ~1e-170 event"
        )
        # and the knob changed the sidecar size accordingly
        m_lo = t_lo._load_manifest(t_lo.latest_version())
        m_hi = t_hi._load_manifest(t_hi.latest_version())
        g_lo = m_lo["groups"][0]
        g_hi = m_hi["groups"][0]
        assert (
            m_hi["stats"][g_hi]["_bloom"]["k"]["m"]
            > m_lo["stats"][g_lo]["_bloom"]["k"]["m"]
        )


class TestFormatVersionGuard:
    def test_future_format_fails_loudly(self, spark, tmp_path):
        """A manifest written by a NEWER engine (format > supported)
        must fail with the upgrade remedy, not silently misread —
        the Iceberg/Delta protocol-version mechanic."""
        import json
        import os

        from file_stream_import_spark.io.versioned import (
            UnsupportedFormatError,
            VersionedTable,
            _manifest_path,
        )

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame([(0, 1)], "k long, v long"),
            mode="overwrite",
        )
        assert t._load_manifest(0)["format"] == 1  # stamped at publish
        p = _manifest_path(t.path, 0)
        m = json.load(open(p))
        m["format"] = 99
        tmp = p + ".tmp"
        json.dump(m, open(tmp, "w"))
        os.replace(tmp, p)
        with pytest.raises(UnsupportedFormatError, match="format 99"):
            t.read(spark).collect()
        with pytest.raises(UnsupportedFormatError):
            t.count_where(spark)
