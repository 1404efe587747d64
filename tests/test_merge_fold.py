"""merge_into's fold clause and its caller-asserted prune box.

The fold clause merges a delta into an aggregate with one
``groupBy(key)`` over the touched groups' rows and the source rows,
where the clause engine joins them. On a target unique on the key the
two give the same rows. ``prune_where`` bounds the source, so groups
outside it are carried by reference without a touch-test pass;
``refresh_mv`` derives that box from the source diff's manifest stats.
"""

from __future__ import annotations

import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io import versioned
from file_stream_import_spark.io.versioned import (
    VersionedTable,
    diff_stats_box,
    merge_into,
)
from file_stream_import_spark.operators.mv import refresh_mv

from .test_merge_source_pin import _jobs


@pytest.fixture
def touch_passes(monkeypatch):
    """Counts _split_touched_groups calls (merge_into's touch test)."""
    calls = []
    real = versioned._split_touched_groups

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(versioned, "_split_touched_groups", counted)
    return calls


_SCHEMA = (
    "g string, k long, n bigint, x double, d decimal(38,2), "
    "last string, h map<int,bigint>"
)
_TARGET = [
    ("a", 1, 10, 1.5, Decimal("1.25"), "t1", {1: 2, 2: 3}),
    ("a", 2, None, None, None, None, None),
    ("b", 3, 5, 0.5, Decimal("2.00"), "t3", {}),
    ("b", 4, 7, 2.0, Decimal("3.00"), "t4", {5: 1}),  # unmatched
    ("z", None, 1, 1.0, Decimal("1.00"), "tn", {1: 1}),  # NULL key
]
_SOURCE = [
    ("a", 1, 5, 0.25, Decimal("0.75"), "s1", {1: -2, 3: 4}),
    ("a", 2, 3, 1.0, None, None, {7: 1}),
    ("b", 3, -5, None, Decimal("1.00"), None, {}),
    ("c", 9, None, 4.0, Decimal("5.00"), "s9", {0: 0}),  # insert
    ("z", None, 2, 2.0, Decimal("2.00"), "sn", {1: 1}),  # NULL key
]
_FOLD = {"n": "add", "x": "add", "d": "add", "last": "source",
         "h": "map_add"}


def _clause_engine_assignments():
    """The per-column t./s. spelling of _FOLD for the clause engine."""
    add = {
        c: F.coalesce(F.col(f"t.{c}"), F.lit(0))
        + F.coalesce(F.col(f"s.{c}"), F.lit(0))
        for c in ("n", "x", "d")
    }
    empty = F.expr("cast(map() as map<int,bigint>)")
    zero = F.lit(0).cast("bigint")
    hist = F.map_filter(
        F.map_zip_with(
            F.coalesce(F.col("t.h"), empty),
            F.coalesce(F.col("s.h"), empty),
            lambda _, a, b: F.coalesce(a, zero) + F.coalesce(b, zero),
        ),
        lambda _, v: v != 0,
    )
    return {**add, "last": F.col("s.last"), "h": hist}


def _rows(spark, t):
    return sorted(
        (
            tuple(r[c] for c in ("g", "k", "n", "x", "d", "last")),
            sorted((r["h"] or {}).items()) if r["h"] is not None else None,
        )
        for r in t.read(spark).collect()
    )


class TestFoldMatchesClauseEngine:
    @pytest.mark.parametrize("key", [["k"], ["g", "k"]])
    def test_add_source_wins_and_map_add(self, spark, tmp_path, key):
        """Matched keys fold, inserts and unmatched target rows stay as
        they are (a NULL sum stays NULL, a zero map entry survives an
        insert), and NULL keys never match on either side."""
        target = spark.createDataFrame(_TARGET, _SCHEMA)
        source = spark.createDataFrame(_SOURCE, _SCHEMA)
        folded = VersionedTable(str(tmp_path / "fold"))
        joined = VersionedTable(str(tmp_path / "join"))
        for t in (folded, joined):
            t.commit(target, mode="overwrite")
        fold, assign = dict(_FOLD), _clause_engine_assignments()
        if "g" not in key:
            fold["g"], assign["g"] = "source", F.col("s.g")
        merge_into(folded, spark, source, key=key, fold=fold)
        merge_into(joined, spark, source, key=key, when_matched=assign)
        got = _rows(spark, folded)
        assert got == _rows(spark, joined)
        by_key = {(r[0][0], r[0][1]): r for r in got if r[0][1] is not None}
        assert by_key[("a", 1)] == (
            ("a", 1, 15, 1.75, Decimal("2.00"), "s1"), [(2, 3), (3, 4)]
        )
        assert by_key[("c", 9)] == (
            ("c", 9, None, 4.0, Decimal("5.00"), "s9"), [(0, 0)]
        )
        assert sum(1 for r in got if r[0][1] is None) == 2

    def test_fold_must_name_every_payload_column(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(spark.createDataFrame(_TARGET, _SCHEMA), mode="overwrite")
        src = spark.createDataFrame(_SOURCE, _SCHEMA)
        with pytest.raises(ValueError, match="missing"):
            merge_into(t, spark, src, key="k", fold={"n": "add"})
        with pytest.raises(ValueError, match="other clause"):
            merge_into(
                t, spark, src, key=["g", "k"], fold=_FOLD,
                when_matched="delete",
            )


def _two_groups(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    mk = lambda ks: spark.createDataFrame(  # noqa: E731
        [(k, 1) for k in ks], "k long, n bigint"
    )
    t.commit(mk(range(1, 11)), mode="overwrite")
    t.commit(mk(range(100, 111)), mode="append")
    return t, mk


class TestPruneWhere:
    def test_groups_outside_the_box_carry_without_a_touch_pass(
        self, spark, tmp_path, touch_passes
    ):
        t, mk = _two_groups(spark, tmp_path)
        before = t._load_manifest(t.latest_version())["groups"]
        v = merge_into(
            t, spark, mk([105, 120]), key="k", fold={"n": "add"},
            prune_where={"k": (105, 120)},
        )
        after = t._load_manifest(v)["groups"]
        assert touch_passes == []
        assert after[0] == before[0] and before[1] not in after
        got = {r.k: r.n for r in t.read(spark).collect()}
        assert got[105] == 2 and got[120] == 1 and got[5] == 1
        assert len(got) == 22

    def test_pure_insert_builds_no_python_empty_target(
        self, spark, tmp_path
    ):
        """A merge that touches no group reads an empty target. Built
        JVM-side, the optimizer folds the anti-join away and the write
        is one job after the touch test's three; a Python-RDD empty
        target made the write three jobs and started Python workers."""
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.range(5000).select("id", F.lit("v").alias("s")),
            mode="overwrite",
        )
        new = spark.range(5000, 5200).select("id", F.lit("n").alias("s"))
        v, jobs = _jobs(
            spark,
            lambda: merge_into(t, spark, new, key="id", source_unique=True),
        )
        assert t._load_manifest(v)["groups"][0] == (
            t._load_manifest(v - 1)["groups"][0]
        )
        assert jobs == 4
        assert t.read(spark).count() == 5200


def _src(spark, tmp_path, rows):
    t = VersionedTable(str(tmp_path / "src"))
    t.commit(
        spark.createDataFrame(rows, "k long, g string, x long"),
        mode="overwrite",
    )
    return t


def _refresh(src, mv, spark, sum_col="x"):
    return refresh_mv(
        src, mv, spark,
        name="t", group_cols=["g"], sum_cols=[sum_col], key="k",
    )


def _append(spark, src, rows, cols="k long, g string, x long"):
    src.commit(spark.createDataFrame(rows, cols), mode="append")


def _mv_state(spark, mv, sum_col="x"):
    return sorted(
        (r["g"], r["n_rows"], r[sum_col]) for r in mv.read(spark).collect()
    )


def _parquet_files(t):
    return {
        os.path.join(d, n)
        for d, _, names in os.walk(os.path.join(t.path, "data"))
        for n in names
        if n.endswith(".parquet")
    }


class TestFoldedRefresh:
    def test_linear_refresh_runs_no_touch_pass(
        self, spark, tmp_path, touch_passes
    ):
        src = _src(spark, tmp_path, [(1, "a", 10), (2, "b", 5)])
        mv = VersionedTable(str(tmp_path / "mv"))
        _refresh(src, mv, spark)
        merge_into(
            src, spark,
            spark.createDataFrame(
                [(1, "a", 11), (3, "a", 1)], "k long, g string, x long"
            ),
            key="k",
        )
        touch_passes.clear()  # the source MERGE's own pass
        _, jobs = _jobs(spark, lambda: _refresh(src, mv, spark))
        assert touch_passes == []
        assert jobs <= 3
        assert _mv_state(spark, mv) == [("a", 2, 12), ("b", 1, 5)]

    def test_mv_group_outside_the_diff_box_is_carried(
        self, spark, tmp_path
    ):
        src = _src(spark, tmp_path, [(1, "a", 10), (2, "b", 5)])
        mv = VersionedTable(str(tmp_path / "mv"))
        _refresh(src, mv, spark)
        _append(spark, src, [(3, "m", 1)])
        _refresh(src, mv, spark)
        old_ab = mv._load_manifest(mv.latest_version())["groups"][0]
        files = _parquet_files(mv)
        _append(spark, src, [(4, "m", 2)])
        assert diff_stats_box(
            src, src.latest_version() - 1, src.latest_version(), ["g"]
        ) == {"g": ("m", "m")}
        _refresh(src, mv, spark)
        groups = mv._load_manifest(mv.latest_version())["groups"]
        assert old_ab in groups and len(groups) == 2
        # the refresh wrote one file: the rewritten "m" group
        assert len(_parquet_files(mv) - files) == 1
        assert _mv_state(spark, mv) == [
            ("a", 1, 10), ("b", 1, 5), ("m", 2, 3)
        ]

    def test_rename_in_range_falls_back_to_the_touch_pass(
        self, spark, tmp_path, touch_passes
    ):
        from file_stream_import_spark.operators.mv import rename_in_spec

        src = _src(spark, tmp_path, [(1, "a", 10), (2, "b", 5)])
        mv = VersionedTable(str(tmp_path / "mv"))
        _refresh(src, mv, spark)
        src.rename_column("x", "y")
        mv.rename_column("x", "y")
        rename_in_spec(mv, {"x": "y"})
        _append(spark, src, [(3, "a", 4)], "k long, g string, y long")
        assert diff_stats_box(
            src, 0, src.latest_version(), ["g"]
        ) is None
        touch_passes.clear()
        _refresh(src, mv, spark, sum_col="y")
        assert len(touch_passes) == 1
        assert _mv_state(spark, mv, "y") == [("a", 2, 14), ("b", 1, 5)]
