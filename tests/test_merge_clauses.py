"""Round-9: the full MERGE clause matrix (Delta's surface) on
io/versioned.py::merge_into — WHEN MATCHED [AND cond] THEN
DELETE / UPDATE SET * / UPDATE SET subset / no-op, WHEN NOT MATCHED
THEN INSERT * / no clause. Defaults stay byte-identical to the classic
upsert (the anti-join fast path); every non-default combination is
checked against a relationally computed ground truth, and the pruned
O(delta) property holds for clause merges too.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    VersionedTable,
    merge_into,
)


def _table(spark, tmp_path):
    """Four range-partitioned groups of (k, cents, status)."""
    t = VersionedTable(str(tmp_path / "t"))
    for gi in range(4):
        lo = gi * 100
        t.commit(
            spark.range(lo, lo + 100).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).alias("cents"),
                F.lit("old").alias("status"),
            ),
            mode="append" if gi else "overwrite",
        )
    return t


def _src(spark, rows):
    return spark.createDataFrame(rows, "k long, cents long, status string")


class TestMatchedClauses:
    def test_matched_delete(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        src = _src(spark, [(150, 0, "x"), (151, 0, "x"), (999_999, 1, "new")])
        v = merge_into(
            t, spark, src, key="k",
            when_matched="delete", when_not_matched="insert_all",
        )
        got = {r["k"] for r in t.read(spark, version=v).collect()}
        assert 150 not in got and 151 not in got
        assert 999_999 in got
        assert len(got) == 400 - 2 + 1

    def test_matched_delete_with_condition(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        src = _src(spark, [(150, 0, "x"), (151, 0, "x")])
        v = merge_into(
            t, spark, src, key="k",
            when_matched="delete",
            matched_condition=F.col("t.k") % 2 == 0,
            when_not_matched=None,
        )
        got = {r["k"] for r in t.read(spark, version=v).collect()}
        assert 150 not in got     # matched AND even -> deleted
        assert 151 in got         # matched but condition false -> kept
        assert len(got) == 399

    def test_matched_subset_assignment(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        src = _src(spark, [(42, 777, "ignored"), (43, 888, "ignored")])
        v = merge_into(
            t, spark, src, key="k",
            when_matched={
                "cents": F.col("s.cents") + F.col("t.cents"),
                "status": F.lit("merged"),
            },
            when_not_matched=None,
        )
        got = {
            r["k"]: (r["cents"], r["status"])
            for r in t.read(spark, version=v).collect()
        }
        assert got[42] == (777 + 420, "merged")
        assert got[43] == (888 + 430, "merged")
        assert got[44] == (440, "old")  # untouched

    def test_conditional_update_all(self, spark, tmp_path):
        """WHEN MATCHED AND s.cents > t.cents THEN UPDATE SET * — the
        only-raise-prices merge."""
        t = _table(spark, tmp_path)
        src = _src(
            spark,
            [(10, 999_999, "up"), (11, 1, "down"), (500, 5, "new")],
        )
        v = merge_into(
            t, spark, src, key="k",
            matched_condition=F.col("s.cents") > F.col("t.cents"),
        )
        got = {
            r["k"]: (r["cents"], r["status"])
            for r in t.read(spark, version=v).collect()
        }
        assert got[10] == (999_999, "up")  # raised
        assert got[11] == (110, "old")     # lower offer ignored
        assert got[500] == (5, "new")      # inserted regardless
        assert len(got) == 401

    def test_insert_only_merge(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        src = _src(spark, [(42, 1, "dup"), (500, 2, "new")])
        v = merge_into(
            t, spark, src, key="k", when_matched=None,
        )
        got = {
            r["k"]: r["status"] for r in t.read(spark, version=v).collect()
        }
        assert got[42] == "old"   # existing row untouched
        assert got[500] == "new"
        assert len(got) == 401

    def test_no_insert_clause(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        src = _src(spark, [(42, 1, "upd"), (500, 2, "new")])
        v = merge_into(
            t, spark, src, key="k", when_not_matched=None,
        )
        got = {
            r["k"]: r["status"] for r in t.read(spark, version=v).collect()
        }
        assert got[42] == "upd"
        assert 500 not in got
        assert len(got) == 400


class TestClauseMergePruning:
    def test_clause_merge_stays_o_delta(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        base = t.latest_version()
        before = set(t._load_manifest(base)["groups"])
        src = _src(spark, [(150, 0, "x"), (160, 0, "x")])
        v = merge_into(
            t, spark, src, key="k", when_matched="delete",
            when_not_matched=None,
        )
        carried = set(t._load_manifest(v)["groups"]) & before
        assert len(carried) == 3  # keys 150/160 live in ONE group
        # b195d10:tools/ab_merge_pruned.py timed this at 16 groups x 1M
        # rows: 1.33 s / 70.6 MB rewritten vs 5.23 s / 1129.9 MB with
        # the stats stripped (every group rewritten)

    def test_validation_rejects_bad_clauses(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        src = _src(spark, [(1, 1, "x")])
        with pytest.raises(ValueError, match="when_matched"):
            merge_into(t, spark, src, key="k", when_matched="upsert")
        with pytest.raises(ValueError, match="when_not_matched"):
            merge_into(
                t, spark, src, key="k", when_not_matched="ignore"
            )
        with pytest.raises(ValueError, match="unknown column"):
            merge_into(
                t, spark, src, key="k",
                when_matched={"nope": F.lit(1)},
            )

    def test_empty_table_respects_insert_clause(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        src = _src(spark, [(1, 1, "x")])
        merge_into(t, spark, src, key="k", when_not_matched=None)
        assert t.read(spark).count() == 0
        t2 = VersionedTable(str(tmp_path / "t2"))
        merge_into(t2, spark, src, key="k")
        assert t2.read(spark).count() == 1

    def test_default_path_unchanged(self, spark, tmp_path):
        """Defaults still take the classic anti-join upsert and give
        the same result as an explicit update_all+insert_all."""
        ta, tb = _table(spark, tmp_path / "a"), _table(spark, tmp_path / "b")
        src = _src(spark, [(42, 1, "u"), (500, 2, "n")])
        merge_into(ta, spark, src, key="k")
        merge_into(
            tb, spark, src, key="k",
            when_matched="update_all", when_not_matched="insert_all",
            matched_condition=F.lit(True),
        )
        a = sorted(map(tuple, ta.read(spark).collect()))
        b = sorted(map(tuple, tb.read(spark).collect()))
        assert a == b


class TestNotMatchedBySource:
    """WHEN NOT MATCHED BY SOURCE — the target-side sweep (r9b)."""

    def test_bys_delete_syncs_target_to_source(self, spark, tmp_path):
        """The classic full-sync: source is the truth; target rows
        absent from it are swept away."""
        t = _table(spark, tmp_path)
        src = _src(
            spark,
            [(k, k * 100, "synced") for k in range(0, 400, 2)],
        )
        v = merge_into(
            t, spark, src, key="k",
            when_not_matched_by_source="delete",
        )
        got = {
            r["k"]: (r["cents"], r["status"])
            for r in t.read(spark, version=v).collect()
        }
        assert set(got) == set(range(0, 400, 2))  # odds swept
        assert got[10] == (1000, "synced")        # evens updated

    def test_bys_delete_with_condition_prunes_groups(
        self, spark, tmp_path
    ):
        """A planner-boundable BY SOURCE condition keeps the sweep
        O(delta): only groups overlapping the condition's box (plus
        the update-key groups) rewrite."""
        t = _table(spark, tmp_path)
        base = t.latest_version()
        before = set(t._load_manifest(base)["groups"])
        src = _src(spark, [(150, 1, "u")])
        v = merge_into(
            t, spark, src, key="k",
            when_not_matched_by_source="delete",
            not_matched_by_source_condition=F.col("k").between(120, 180),
        )
        carried = set(t._load_manifest(v)["groups"]) & before
        assert len(carried) == 3  # both clauses confined to group 1
        got = {r["k"] for r in t.read(spark, version=v).collect()}
        # 120..180 absent from source -> deleted; 150 updated (matched)
        assert got & set(range(120, 181)) == {150}
        assert set(range(0, 120)) <= got and set(range(181, 400)) <= got

    def test_bys_update_assignment(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        src = _src(spark, [(42, 1, "seen")])
        v = merge_into(
            t, spark, src, key="k",
            when_matched={"status": F.lit("seen")},
            when_not_matched_by_source={"status": F.lit("stale")},
            when_not_matched=None,
        )
        got = {
            r["k"]: r["status"] for r in t.read(spark, version=v).collect()
        }
        assert got[42] == "seen"
        assert all(v == "stale" for k, v in got.items() if k != 42)
        assert len(got) == 400

    def test_bys_unconditioned_touches_everything(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        base = t.latest_version()
        before = set(t._load_manifest(base)["groups"])
        src = _src(spark, [(1, 1, "u")])
        v = merge_into(
            t, spark, src, key="k",
            when_not_matched_by_source={"status": F.lit("swept")},
        )
        carried = set(t._load_manifest(v)["groups"]) & before
        assert carried == set()  # no condition: honest full sweep

    def test_bys_conflicts_with_concurrent_append(self, spark, tmp_path):
        """BY SOURCE decisions depend on key NON-existence, so a
        concurrent append cannot be rebased over — it conflicts."""
        from file_stream_import_spark.io.versioned import (
            CommitConflictError,
        )

        t = _table(spark, tmp_path)
        real_publish = VersionedTable._publish
        state = {"fired": False}

        def racing(self, parent, manifest, txn=None, **kw):
            if not state["fired"] and manifest["mode"] == "overwrite":
                state["fired"] = True
                t2 = VersionedTable(self.path)
                t2.commit(
                    _src(spark, [(9999, 1, "late")]), mode="append"
                )
            return real_publish(self, parent, manifest, txn=txn, **kw)

        VersionedTable._publish = racing
        try:
            with pytest.raises(CommitConflictError):
                merge_into(
                    t, spark, _src(spark, [(1, 1, "u")]), key="k",
                    when_not_matched_by_source="delete",
                )
        finally:
            VersionedTable._publish = real_publish
        assert state["fired"]
        # the late append survived; the sweep lost cleanly
        got = {r["k"] for r in t.read(spark).collect()}
        assert 9999 in got and len(got) == 401

    def test_bys_validation(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        with pytest.raises(ValueError, match="when_not_matched_by_source"):
            merge_into(
                t, spark, _src(spark, [(1, 1, "x")]), key="k",
                when_not_matched_by_source="update_all",
            )
        with pytest.raises(ValueError, match="unknown"):
            merge_into(
                t, spark, _src(spark, [(1, 1, "x")]), key="k",
                when_not_matched_by_source={"nope": F.lit(1)},
            )


class TestMergeEvolution:
    """r14: allow_evolution=True (Delta's schema.autoMerge) — a source
    with additive new columns evolves the table inside the same MERGE
    commit; old rows surface NULL for the new columns."""

    def _wide_src(self, spark, rows):
        return spark.createDataFrame(
            rows, "k long, cents long, status string, extra string"
        )

    def test_rejected_without_flag(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import (
            SchemaMismatchError,
        )

        t = _table(spark, tmp_path)
        with pytest.raises(SchemaMismatchError, match="allow_evolution"):
            merge_into(
                t, spark,
                self._wide_src(spark, [(1, 11, "new", "e1")]),
                key="k",
            )

    def test_update_insert_and_null_backfill(self, spark, tmp_path):
        t = _table(spark, tmp_path)
        merge_into(
            t, spark,
            self._wide_src(
                spark, [(1, 11, "new", "e1"), (999, 1, "ins", "e9")]
            ),
            key="k",
            allow_evolution=True,
        )
        df = t.read(spark)
        assert df.columns == ["k", "cents", "status", "extra"]
        got = {
            r["k"]: (r["cents"], r["status"], r["extra"])
            for r in df.filter(
                F.col("k").isin(0, 1, 150, 999)
            ).collect()
        }
        assert got[1] == (11, "new", "e1")
        assert got[999] == (1, "ins", "e9")
        # untouched rows — same group (0) and an untouched group (150)
        assert got[0] == (0, "old", None)
        assert got[150] == (1500, "old", None)

    def test_source_missing_existing_column_rejected(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.versioned import (
            SchemaMismatchError,
        )

        t = _table(spark, tmp_path)
        src = spark.createDataFrame(
            [(1, "x")], "k long, extra string"
        )
        with pytest.raises(SchemaMismatchError, match="lacks"):
            merge_into(t, spark, src, key="k", allow_evolution=True)

    def test_type_change_rejected(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import (
            SchemaMismatchError,
        )

        t = _table(spark, tmp_path)
        src = spark.createDataFrame(
            [(1, 1.5, "s")], "k long, cents double, status string"
        )
        with pytest.raises(SchemaMismatchError, match="type"):
            merge_into(t, spark, src, key="k", allow_evolution=True)

    def test_clause_engine_path_evolves_too(self, spark, tmp_path):
        """A non-default clause (dict assignment touching the NEW
        column) goes through _merge_clauses — the evolved column must
        be assignable there as well."""
        t = _table(spark, tmp_path)
        merge_into(
            t, spark,
            self._wide_src(spark, [(2, 22, "new", "e2")]),
            key="k",
            when_matched={
                "extra": F.col("s.extra"),
                "cents": F.col("t.cents") + F.col("s.cents"),
            },
            allow_evolution=True,
        )
        row = t.read(spark).filter(F.col("k") == 2).collect()[0]
        assert (row["cents"], row["status"], row["extra"]) == (
            42, "old", "e2"
        )

    def test_cdf_and_time_travel_across_evolution(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.versioned import (
            table_changes_cdf,
        )

        t = _table(spark, tmp_path)
        v = merge_into(
            t, spark,
            self._wide_src(spark, [(1, 11, "new", "e1")]),
            key="k",
            allow_evolution=True,
        )
        cdf = table_changes_cdf(t, spark, v, v, key="k")
        got = sorted(
            (r["_change_type"], r["extra"]) for r in cdf.collect()
        )
        assert got == [
            ("update_postimage", "e1"), ("update_preimage", None)
        ]
        # pre-evolution snapshots keep the narrow schema
        assert t.read(spark, version=v - 1).columns == [
            "k", "cents", "status"
        ]

    def test_by_source_sweep_composes_with_evolution(
        self, spark, tmp_path
    ):
        """The BY SOURCE sweep assigns the EVOLVED column on unmatched
        target rows in the same widening MERGE commit."""
        t = VersionedTable(str(tmp_path / "tbe"))
        t.commit(
            spark.createDataFrame(
                [(1, 10, "old"), (2, 20, "old")],
                "k long, cents long, status string",
            ),
            mode="overwrite",
        )
        merge_into(
            t, spark,
            self._wide_src(spark, [(1, 11, "new", "E1")]),
            key="k",
            allow_evolution=True,
            when_not_matched_by_source={"extra": F.lit("SWEPT")},
        )
        got = sorted(tuple(r) for r in t.read(spark).collect())
        assert got == [
            (1, 11, "new", "E1"), (2, 20, "old", "SWEPT")
        ]
