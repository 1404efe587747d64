"""Metadata inspection tables (inspect_files/history/refs — Iceberg's
$files/$history/$refs shape) and batch CDC (table_changes — Delta's
table_changes TVF shape). Both are manifest-metadata surfaces: no data
file is opened by the inspectors, and table_changes scans only ADDED
groups."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    VersionedTable,
    table_changes,
)


def _mk(spark, tmp_path, name="t"):
    t = VersionedTable(str(tmp_path / name))
    t.commit(
        spark.range(4).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        mode="overwrite",
    )
    t.commit(
        spark.createDataFrame([(10, 20), (11, 22)], "k long, v long"),
        mode="append",
    )
    return t


class TestInspect:
    def test_files(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        rows = t.inspect_files(spark).collect()
        assert len(rows) == 2
        assert sorted(r["n_rows"] for r in rows) == [2, 4]
        assert all(r["n_bytes"] > 0 for r in rows)
        assert not any(r["has_pending_deletes"] for r in rows)
        # the small-files compaction query is a plain filter
        small = t.inspect_files(spark).filter(F.col("n_rows") < 3)
        assert small.count() == 1

    def test_files_flags_pending_mor_deletes(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.delete_where(
            spark,
            F.col("k") <= 1,
            strategy="merge-on-read",
            key_cols=["k"],
        )
        rows = t.inspect_files(spark).collect()
        # the entry's applies_to SCOPE is the groups present at delete
        # time (Iceberg sequence-number semantics) — both groups are
        # covered, and a group appended later is not
        assert all(r["has_pending_deletes"] for r in rows)
        t.commit(
            spark.createDataFrame([(12, 24)], "k long, v long"),
            mode="append",
        )
        by_rows = {
            r["n_rows"]: r["has_pending_deletes"]
            for r in t.inspect_files(spark).collect()
        }
        assert by_rows[1] is False  # post-delete append: out of scope

    def test_files_time_travel(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        assert t.inspect_files(spark, version=0).count() == 1
        assert t.inspect_files(spark).count() == 2

    def test_history(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.rename_column("v", "val")
        rows = {
            r["version"]: r for r in t.inspect_history(spark).collect()
        }
        assert rows[0]["mode"] == "overwrite" and rows[0]["n_added"] == 1
        assert rows[1]["mode"] == "append" and rows[1]["parent"] == 0
        assert rows[2]["mode"].startswith("rename_column:")
        assert rows[2]["n_added"] == 0 and rows[2]["n_groups"] == 2
        # commit instants are monotone (clamped at publish time)
        ts = [rows[v]["committed_at"] for v in sorted(rows)]
        assert ts == sorted(ts)

    def test_refs(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.create_tag("gold")
        b = t.create_branch("dev")
        b.commit(
            spark.createDataFrame([(50, 1)], "k long, v long"),
            mode="append",
        )
        refs = {
            (r["kind"], r["name"]): r
            for r in t.inspect_refs(spark).collect()
        }
        assert refs[("tag", "gold")]["version"] == 1
        assert refs[("tag", "gold")]["fork_version"] is None
        assert refs[("branch", "dev")]["version"] == 1  # fork + 1 commit
        assert refs[("branch", "dev")]["fork_version"] == 1

    def test_refs_empty(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        assert t.inspect_refs(spark).count() == 0


class TestTableChanges:
    def test_full_range_inserts(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        got = {
            (r["k"], r["_commit_version"], r["_change_type"])
            for r in table_changes(t, spark, 0).collect()
        }
        assert got == {
            (0, 0, "insert"),
            (1, 0, "insert"),
            (2, 0, "insert"),
            (3, 0, "insert"),
            (10, 1, "insert"),
            (11, 1, "insert"),
        }

    def test_bounded_range(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.commit(
            spark.createDataFrame([(12, 24)], "k long, v long"),
            mode="append",
        )
        ks = sorted(
            r["k"] for r in table_changes(t, spark, 1, 1).collect()
        )
        assert ks == [10, 11]
        assert table_changes(t, spark, 3).count() == 0  # empty range

    def test_rename_routing(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.rename_column("v", "val")
        t.commit(
            spark.createDataFrame([(12, 24)], "k long, val long"),
            mode="append",
        )
        rows = {
            r["k"]: r["val"] for r in table_changes(t, spark, 0).collect()
        }
        # pre-rename groups route their file column to the END schema
        assert rows == {0: 0, 1: 2, 2: 4, 3: 6, 10: 20, 11: 22, 12: 24}

    def test_append_only_contract(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.delete_where(spark, F.col("k") <= 1)  # copy-on-write rewrite
        with pytest.raises(ValueError, match="append-only"):
            table_changes(t, spark, 0)
        # ignore_changes: only added groups, never a retraction; the
        # rewrite's new group re-emits the surviving rows
        ks = sorted(
            r["k"]
            for r in table_changes(
                t, spark, 0, ignore_changes=True
            ).collect()
        )
        assert ks == sorted([0, 1, 2, 3, 10, 11] + [2, 3, 10, 11])

    def test_delete_entries_not_applied(self, spark, tmp_path):
        """CDC reports what was INSERTED; pending MoR deletes do not
        retract (use snapshot_diff for net row deltas)."""
        t = _mk(spark, tmp_path)
        t.delete_where(
            spark,
            F.col("k") <= 1,
            strategy="merge-on-read",
            key_cols=["k"],
        )
        with pytest.raises(ValueError, match="append-only"):
            table_changes(t, spark, 0)
        ks = sorted(
            r["k"]
            for r in table_changes(
                t, spark, 0, ignore_changes=True
            ).collect()
        )
        assert ks == [0, 1, 2, 3, 10, 11]  # 0,1 still reported

    def test_table_changes_on_branch_handle(self, spark, tmp_path):
        """A branch handle's table_changes walks the BRANCH chain
        (branch-local versions), not main's — staged commits are
        visible as inserts attributed to branch versions."""
        t = _mk(spark, tmp_path)
        b = t.create_branch("stage")
        b.commit(
            spark.createDataFrame([(50, 1)], "k long, v long"),
            mode="append",
        )
        t.commit(
            spark.createDataFrame([(60, 2)], "k long, v long"),
            mode="append",
        )  # main noise the branch walk must not see
        got = {
            (r["k"], r["_commit_version"])
            for r in table_changes(b, spark, 1).collect()
        }
        assert got == {(50, 1)}


class TestTableChangesRows:
    """Row-level CDF (table_changes_rows): exact I/U/D per commit with
    old/new payloads, read-side via manifest-aware snapshot_diff."""

    def _history(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import merge_into

        t = VersionedTable(str(tmp_path / "cdf"))
        t.commit(
            spark.range(4).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ),
            mode="overwrite",
        )
        merge_into(
            t,
            spark,
            spark.createDataFrame([(1, 99), (10, 100)], "k long, v long"),
            key="k",
        )
        t.delete_where(spark, F.col("k") == 0)
        return t

    def test_full_feed(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import (
            table_changes_rows,
        )

        t = self._history(spark, tmp_path)
        got = {
            (r["k"], r["_commit_version"]): (
                r["_change_type"],
                r["old"]["v"] if r["old"] else None,
                r["new"]["v"] if r["new"] else None,
            )
            for r in table_changes_rows(t, spark, 0, key="k").collect()
        }
        assert got == {
            (0, 0): ("I", None, 0),
            (1, 0): ("I", None, 2),
            (2, 0): ("I", None, 4),
            (3, 0): ("I", None, 6),
            (1, 1): ("U", 2, 99),
            (10, 1): ("I", None, 100),
            (0, 2): ("D", 0, None),
        }

    def test_subrange(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import (
            table_changes_rows,
        )

        t = self._history(spark, tmp_path)
        types = sorted(
            r["_change_type"]
            for r in table_changes_rows(t, spark, 1, 1, key="k").collect()
        )
        assert types == ["I", "U"]

    def test_evolution_alignment(self, spark, tmp_path):
        """A column added mid-range: earlier versions' payload structs
        NULL-fill it under the END schema's field set."""
        from file_stream_import_spark.io.versioned import (
            table_changes_rows,
        )

        t = VersionedTable(str(tmp_path / "evo"))
        t.commit(
            spark.createDataFrame([(0, 1)], "k long, v long"),
            mode="overwrite",
        )
        t.commit(
            spark.createDataFrame([(1, 2, 5)], "k long, v long, w long"),
            mode="append",
            allow_evolution=True,
        )
        rows = {
            (r["k"], r["_commit_version"]): r["new"].asDict()
            for r in table_changes_rows(t, spark, 0, key="k").collect()
        }
        assert rows[(0, 0)] == {"v": 1, "w": None}
        assert rows[(1, 1)] == {"v": 2, "w": 5}

    def test_duplicate_keys_raise(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import (
            table_changes_rows,
        )

        t = VersionedTable(str(tmp_path / "dups"))
        t.commit(
            spark.createDataFrame([(0, 1)], "k long, v long"),
            mode="overwrite",
        )
        # the duplicate lands INSIDE one diffed group (snapshot_diff's
        # probe covers the groups the diff reads — a dup straddling a
        # SHARED group is outside its documented contract)
        t.commit(
            spark.createDataFrame([(5, 1), (5, 2)], "k long, v long"),
            mode="append",
        )
        with pytest.raises(ValueError, match="key-unique"):
            table_changes_rows(t, spark, 1, key="k").collect()

    def test_cdf_on_branch_handle(self, spark, tmp_path):
        """table_changes_rows on a branch handle walks the branch
        chain: the staged MERGE's update/insert delta is attributed to
        the branch-local version."""
        from file_stream_import_spark.io.versioned import (
            merge_into,
            table_changes_rows,
        )

        t = VersionedTable(str(tmp_path / "cdfb"))
        t.commit(
            spark.createDataFrame([(0, 1), (1, 2)], "k long, v long"),
            mode="overwrite",
        )
        b = t.create_branch("stage")
        merge_into(
            b,
            spark,
            spark.createDataFrame([(1, 99), (5, 50)], "k long, v long"),
            key="k",
        )
        got = {
            (r["k"], r["_commit_version"], r["_change_type"])
            for r in table_changes_rows(b, spark, 1, key="k").collect()
        }
        assert got == {(1, 1, "U"), (5, 1, "I")}

    def test_empty_range_is_a_typed_empty_frame(self, spark, tmp_path):
        """A range past the last commit (by version, or by an instant
        after it) is empty, not an error: both row-level feeds return
        no rows under the columns a non-empty range carries, as
        table_changes does."""
        from file_stream_import_spark.io.versioned import (
            table_changes_cdf,
            table_changes_rows,
        )

        t = self._history(spark, tmp_path)
        latest = t.latest_version()
        after = t._load_manifest(latest)["committed_at"] + 60
        for empty, full in [
            (
                table_changes_rows(t, spark, latest + 1, key="k"),
                table_changes_rows(t, spark, 0, key="k"),
            ),
            (
                table_changes_cdf(t, spark, from_timestamp=after, key="k"),
                table_changes_cdf(t, spark, 0, key="k"),
            ),
        ]:
            assert empty.collect() == []
            assert empty.dtypes == full.dtypes
        assert table_changes(t, spark, latest + 1).collect() == []


class TestVacuumDryRunAndTimestampBounds:
    def test_vacuum_dry_run_reports_without_removing(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.versioned import VersionedTable

        t = VersionedTable(str(tmp_path / "dr"))
        for i in range(3):
            t.commit(
                spark.createDataFrame([(i, i)], "k long, v long"),
                mode="overwrite" if i == 0 else "append",
            )
        t.commit(
            spark.createDataFrame([(9, 9)], "k long, v long"),
            mode="overwrite",
        )
        would = t.vacuum(keep_versions=1, min_age_seconds=0, dry_run=True)
        assert len(would) == 3  # the overwritten groups
        # NOTHING happened: all manifests retained, all data readable
        assert t.versions() == [0, 1, 2, 3]
        assert len(t.read(spark, version=2).collect()) == 3
        removed = t.vacuum(keep_versions=1, min_age_seconds=0)
        assert sorted(removed) == sorted(would)  # the report was exact
        assert t.versions() == [3]

    def test_table_changes_timestamp_bounds(self, spark, tmp_path):
        import time

        from file_stream_import_spark.io.versioned import (
            VersionedTable,
            table_changes,
        )

        t = VersionedTable(str(tmp_path / "tsb"))
        t.commit(
            spark.createDataFrame([(1, 10)], "k long, v long"),
            mode="overwrite",
        )
        time.sleep(0.05)
        cut = time.time()
        time.sleep(0.05)
        t.commit(
            spark.createDataFrame([(2, 20)], "k long, v long"),
            mode="append",
        )
        t.commit(
            spark.createDataFrame([(3, 30)], "k long, v long"),
            mode="append",
        )
        got = sorted(
            r["k"]
            for r in table_changes(
                t, spark, from_timestamp=cut
            ).collect()
        )
        assert got == [2, 3]
        got2 = sorted(
            r["k"]
            for r in table_changes(
                t, spark, from_version=0, to_timestamp=cut
            ).collect()
        )
        assert got2 == [1]
        with pytest.raises(ValueError, match="not both"):
            table_changes(t, spark, from_version=0, from_timestamp=cut)
        with pytest.raises(ValueError, match="from_version or"):
            table_changes(t, spark)
