"""Incremental materialized-view maintenance (r13,
operators/mv.py::refresh_mv): an aggregate MV refreshed O(delta) from
the source's CDF — bootstrap once, then signed grouped deltas MERGEd
in, watermark atomic in the txn map. The invariant every test drives:
after refresh, the MV equals a FULL recompute of the source — through
every DML kind, group-membership moves, vanishing groups, replays, and
random histories."""

from __future__ import annotations

import os as _os
import uuid as _uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    VersionedTable,
    merge_into,
)
from file_stream_import_spark.operators.mv import refresh_mv


def _mk(spark, tmp_path, rows, name="src"):
    t = VersionedTable(str(tmp_path / name))
    t.commit(
        spark.createDataFrame(rows, "k long, g string, x long"),
        mode="overwrite",
    )
    return t


def _mv(tmp_path, name="mv"):
    return VersionedTable(str(tmp_path / name))


def _refresh(src, mv, spark):
    return refresh_mv(
        src, mv, spark,
        name="t", group_cols=["g"], sum_cols=["x"], key="k",
    )


def _state(spark, t):
    return sorted(
        (r["g"], r["n_rows"], r["x"])
        for r in t.read(spark).collect()
    )


def _recompute(spark, src):
    return sorted(
        (r["g"], r["n"], r["x"])
        for r in src.read(spark)
        .groupBy("g")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.coalesce(F.sum("x"), F.lit(0)).cast("bigint").alias("x"),
        )
        .collect()
    )


class TestRefreshMv:
    def test_bootstrap_equals_full_aggregate(self, spark, tmp_path):
        src = _mk(
            spark, tmp_path,
            [(1, "a", 10), (2, "a", 20), (3, "b", 5)],
        )
        mv = _mv(tmp_path)
        assert _refresh(src, mv, spark) == 0
        assert _state(spark, mv) == [("a", 2, 30), ("b", 1, 5)]

    def test_incremental_through_each_dml_kind(self, spark, tmp_path):
        src = _mk(
            spark, tmp_path,
            [(1, "a", 10), (2, "a", 20), (3, "b", 5)],
        )
        mv = _mv(tmp_path)
        _refresh(src, mv, spark)
        # append
        src.commit(
            spark.createDataFrame(
                [(4, "b", 7)], "k long, g string, x long"
            ),
            mode="append",
        )
        # merge update (same group)
        merge_into(
            src, spark,
            spark.createDataFrame(
                [(1, "a", 99)], "k long, g string, x long"
            ),
            key="k",
        )
        # CoW delete
        src.delete_where(spark, F.col("k") == 2)
        v = _refresh(src, mv, spark)
        assert v == src.latest_version()
        assert _state(spark, mv) == _recompute(spark, src)

    def test_update_moves_row_between_groups(self, spark, tmp_path):
        src = _mk(spark, tmp_path, [(1, "a", 10), (2, "b", 20)])
        mv = _mv(tmp_path)
        _refresh(src, mv, spark)
        merge_into(
            src, spark,
            spark.createDataFrame(
                [(1, "b", 10)], "k long, g string, x long"
            ),
            key="k",
        )
        _refresh(src, mv, spark)
        assert _state(spark, mv) == [("b", 2, 30)] == _recompute(
            spark, src
        )

    def test_vanished_group_row_is_swept(self, spark, tmp_path):
        src = _mk(spark, tmp_path, [(1, "a", 10), (2, "b", 20)])
        mv = _mv(tmp_path)
        _refresh(src, mv, spark)
        src.delete_where(spark, F.col("g") == "a")
        _refresh(src, mv, spark)
        assert _state(spark, mv) == [("b", 1, 20)]

    def test_noop_and_replay_protection(self, spark, tmp_path):
        src = _mk(spark, tmp_path, [(1, "a", 10)])
        mv = _mv(tmp_path)
        _refresh(src, mv, spark)
        before = mv.latest_version()
        # converged: no new MV version, watermark returned
        assert _refresh(src, mv, spark) == src.latest_version()
        assert mv.latest_version() == before
        # advance the source once; refresh twice — the delta applies
        # exactly once
        src.commit(
            spark.createDataFrame(
                [(2, "a", 5)], "k long, g string, x long"
            ),
            mode="append",
        )
        _refresh(src, mv, spark)
        _refresh(src, mv, spark)
        assert _state(spark, mv) == [("a", 2, 15)]

    def test_rollback_rebuild_via_recreate(self, spark, tmp_path):
        """A source ROLLBACK is replayed by the CDF as the exact revert
        delta, so the MV converges through it like any other commit."""
        src = _mk(spark, tmp_path, [(1, "a", 10)])
        mv = _mv(tmp_path)
        _refresh(src, mv, spark)
        src.commit(
            spark.createDataFrame(
                [(2, "b", 7)], "k long, g string, x long"
            ),
            mode="append",
        )
        _refresh(src, mv, spark)
        src.rollback(0)
        _refresh(src, mv, spark)
        assert _state(spark, mv) == [("a", 1, 10)] == _recompute(
            spark, src
        )

    def test_refresh_through_rename_of_sum_col(self, spark, tmp_path):
        """A rename of the SUM column between refreshes: the CDF range
        folds the chain, so the delta surfaces under the END name —
        rename the MV's column in lockstep (metadata-only on both
        sides) and refresh with the new name."""
        from file_stream_import_spark.operators.mv import rename_in_spec

        src = _mk(spark, tmp_path, [(1, "a", 10)])
        mv = _mv(tmp_path)
        _refresh(src, mv, spark)
        src.rename_column("x", "y")
        mv.rename_column("x", "y")
        rename_in_spec(mv, {"x": "y"})  # r16: third lockstep step
        src.commit(
            spark.createDataFrame(
                [(2, "a", 5)], "k long, g string, y long"
            ),
            mode="append",
        )
        refresh_mv(
            src, mv, spark,
            name="t", group_cols=["g"], sum_cols=["y"], key="k",
        )
        got = sorted(
            (r["g"], r["n_rows"], r["y"])
            for r in mv.read(spark).collect()
        )
        assert got == [("a", 2, 15)]


_FUZZ_EXAMPLES = int(_os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "5"))
_FUZZ_DERANDOMIZE = "SPARK_GRAFT_FUZZ_EXAMPLES" not in _os.environ

_rows_st = st.lists(
    st.tuples(
        st.integers(0, 9),
        st.sampled_from(["a", "b", "c"]),
        st.integers(-20, 20),
    ),
    min_size=1,
    max_size=4,
    unique_by=lambda r: r[0],
)
_op_st = st.one_of(
    st.tuples(st.just("merge"), _rows_st),
    st.tuples(st.just("delete"), st.integers(0, 9), st.integers(0, 9)),
    st.tuples(st.just("append"), _rows_st),
    st.tuples(st.just("refresh"), st.just(None)),
    # r14: a rename CYCLE on the source (x -> x_tmp -> x) injects two
    # rename commits into the CDF range the next refresh replays while
    # leaving the net schema unchanged — the fold must route values
    # through the rename chain (_resolved_map / overlay machinery)
    st.just(("rename_cycle",)),
)

# r16: fractional-domain twin for the histogram fuzz — x double in
# [-2, 2] on a 0.01 grid, so sub-1 magnitudes and mixed signs (the r15
# _hist_bucket sign/fraction bug's blind spot) are drawn every run
_frac_rows_st = st.lists(
    st.tuples(
        st.integers(0, 9),
        st.sampled_from(["a", "b", "c"]),
        st.integers(-200, 200).map(lambda n: n / 100.0),
    ),
    min_size=1,
    max_size=4,
    unique_by=lambda r: r[0],
)
_frac_op_st = st.one_of(
    st.tuples(st.just("merge"), _frac_rows_st),
    st.tuples(st.just("delete"), st.integers(0, 9), st.integers(0, 9)),
    st.tuples(st.just("append"), _frac_rows_st),
    st.tuples(st.just("refresh"), st.just(None)),
    st.just(("rename_cycle",)),
)


class TestMvConvergenceFuzz:
    @settings(
        max_examples=_FUZZ_EXAMPLES,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
            HealthCheck.data_too_large,
        ],
        derandomize=_FUZZ_DERANDOMIZE,
    )
    @given(init=_rows_st, ops=st.lists(_op_st, min_size=1, max_size=5))
    def test_mv_equals_recompute_for_random_histories(
        self, spark, tmp_path_factory, init, ops
    ):
        base = tmp_path_factory.mktemp("mv_fuzz")
        src = VersionedTable(f"{base}/{_uuid.uuid4().hex}")
        seen = set()
        init = [r for r in init if r[0] not in seen]
        src.commit(
            spark.createDataFrame(init, "k long, g string, x long"),
            mode="overwrite",
        )
        mv = VersionedTable(f"{base}/{_uuid.uuid4().hex}")
        _refresh(src, mv, spark)
        for op in ops:
            kind = op[0]
            if kind == "merge":
                # appends new keys too: keys must stay unique, which
                # merge guarantees by construction
                merge_into(
                    src, spark,
                    spark.createDataFrame(
                        op[1], "k long, g string, x long"
                    ),
                    key="k",
                )
            elif kind == "delete":
                lo, hi = sorted((op[1], op[2]))
                src.delete_where(spark, F.col("k").between(lo, hi))
            elif kind == "append":
                # only keys not already present (append must keep the
                # CDF key-unique contract)
                have = {
                    r["k"] for r in src.read(spark).select("k").collect()
                }
                fresh = [r for r in op[1] if r[0] not in have]
                if not fresh:
                    continue
                src.commit(
                    spark.createDataFrame(
                        fresh, "k long, g string, x long"
                    ),
                    mode="append",
                )
            elif kind == "rename_cycle":
                src.rename_column("x", "x_tmp")
                src.rename_column("x_tmp", "x")
            else:
                _refresh(src, mv, spark)
        _refresh(src, mv, spark)
        assert _state(spark, mv) == _recompute(spark, src), (
            f"MV diverged from recompute after {ops}"
        )


def _refresh_mm(src, mv, spark):
    return refresh_mv(
        src, mv, spark,
        name="t", group_cols=["g"], sum_cols=["x"], key="k",
        min_cols=["x"], max_cols=["x"],
    )


def _state_mm(spark, t):
    return sorted(
        (r["g"], r["n_rows"], r["x"], r["x_min"], r["x_max"])
        for r in t.read(spark).collect()
    )


def _recompute_mm(spark, src):
    return sorted(
        (r["g"], r["n"], r["x"], r["x_min"], r["x_max"])
        for r in src.read(spark)
        .groupBy("g")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.coalesce(F.sum("x"), F.lit(0)).cast("bigint").alias("x"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
        )
        .collect()
    )


class TestRefreshMvMinMax:
    """r13 (continued): MIN/MAX in the incremental MV — LEAST/GREATEST
    folding on inserts, exact recompute ONLY for groups whose stored
    extreme was touched by a delete (the endangered set)."""

    def test_bootstrap_carries_extremes(self, spark, tmp_path):
        src = _mk(
            spark, tmp_path,
            [(1, "a", 10), (2, "a", 20), (3, "b", 5)],
        )
        mv = _mv(tmp_path)
        _refresh_mm(src, mv, spark)
        assert _state_mm(spark, mv) == [
            ("a", 2, 30, 10, 20), ("b", 1, 5, 5, 5)
        ]

    def test_insert_folds_without_source_scan(
        self, spark, tmp_path, monkeypatch
    ):
        src = _mk(spark, tmp_path, [(1, "a", 10), (2, "a", 20)])
        mv = _mv(tmp_path)
        _refresh_mm(src, mv, spark)
        src.commit(
            spark.createDataFrame(
                [(3, "a", 3), (4, "b", 40)], "k long, g string, x long"
            ),
            mode="append",
        )
        reads = {"n": 0}
        orig = VersionedTable.read

        def counting(self, *a, **kw):
            if self.path == src.path:
                reads["n"] += 1
            return orig(self, *a, **kw)

        monkeypatch.setattr(VersionedTable, "read", counting)
        _refresh_mm(src, mv, spark)
        # append-only delta: nothing endangered, the source snapshot
        # is never rescanned (the CDF walk reads group files directly)
        assert reads["n"] == 0
        assert _state_mm(spark, mv) == [
            ("a", 3, 33, 3, 20), ("b", 1, 40, 40, 40)
        ] == _recompute_mm(spark, src)

    def test_delete_of_extreme_triggers_exact_recompute(
        self, spark, tmp_path
    ):
        src = _mk(
            spark, tmp_path,
            [(1, "a", 10), (2, "a", 20), (3, "a", 15)],
        )
        mv = _mv(tmp_path)
        _refresh_mm(src, mv, spark)
        src.delete_where(spark, F.col("k") == 1)  # removes min=10
        src.delete_where(spark, F.col("k") == 2)  # removes max=20
        _refresh_mm(src, mv, spark)
        assert _state_mm(spark, mv) == [
            ("a", 1, 15, 15, 15)
        ] == _recompute_mm(spark, src)

    def test_delete_of_non_extreme_keeps_stored_value(
        self, spark, tmp_path, monkeypatch
    ):
        src = _mk(
            spark, tmp_path,
            [(1, "a", 10), (2, "a", 20), (3, "a", 15)],
        )
        mv = _mv(tmp_path)
        _refresh_mm(src, mv, spark)
        src.delete_where(spark, F.col("k") == 3)  # 15: not an extreme
        reads = {"n": 0}
        orig = VersionedTable.read

        def counting(self, *a, **kw):
            if self.path == src.path:
                reads["n"] += 1
            return orig(self, *a, **kw)

        monkeypatch.setattr(VersionedTable, "read", counting)
        _refresh_mm(src, mv, spark)
        assert reads["n"] == 0  # interior delete: not endangered
        assert _state_mm(spark, mv) == [
            ("a", 2, 30, 10, 20)
        ] == _recompute_mm(spark, src)

    def test_insert_then_delete_same_window_new_group(
        self, spark, tmp_path
    ):
        src = _mk(spark, tmp_path, [(1, "a", 10)])
        mv = _mv(tmp_path)
        _refresh_mm(src, mv, spark)
        # one refresh window: new group 'b' gains 5 and 9, loses the 5
        src.commit(
            spark.createDataFrame(
                [(2, "b", 5), (3, "b", 9)], "k long, g string, x long"
            ),
            mode="append",
        )
        src.delete_where(spark, F.col("k") == 2)
        _refresh_mm(src, mv, spark)
        # a naive insert-side fold would keep min=5; the new-group-
        # with-deletes endangerment recomputes it to 9
        assert _state_mm(spark, mv) == [
            ("a", 1, 10, 10, 10), ("b", 1, 9, 9, 9)
        ] == _recompute_mm(spark, src)

    def test_update_moves_extreme_between_groups(self, spark, tmp_path):
        src = _mk(
            spark, tmp_path,
            [(1, "a", 1), (2, "a", 20), (3, "b", 50)],
        )
        mv = _mv(tmp_path)
        _refresh_mm(src, mv, spark)
        # k=1 (a's min) moves to b, where it becomes b's new min
        merge_into(
            src, spark,
            spark.createDataFrame(
                [(1, "b", 1)], "k long, g string, x long"
            ),
            key="k",
        )
        _refresh_mm(src, mv, spark)
        assert _state_mm(spark, mv) == [
            ("a", 1, 20, 20, 20), ("b", 2, 51, 1, 50)
        ] == _recompute_mm(spark, src)

    def test_null_values_are_transparent(self, spark, tmp_path):
        src = _mk(spark, tmp_path, [(1, "a", 10), (2, "a", None)])
        mv = _mv(tmp_path)
        _refresh_mm(src, mv, spark)
        assert _state_mm(spark, mv) == [("a", 2, 10, 10, 10)]
        # deleting the NULL row endangers nothing and changes no extreme
        src.delete_where(spark, F.col("k") == 2)
        # inserting a NULL changes no extreme either
        src.commit(
            spark.createDataFrame(
                [(3, "a", None)], "k long, g string, x long"
            ),
            mode="append",
        )
        _refresh_mm(src, mv, spark)
        assert _state_mm(spark, mv) == [
            ("a", 2, 10, 10, 10)
        ] == _recompute_mm(spark, src)

    def test_validation_rejects_collisions(self, spark, tmp_path):
        src = _mk(spark, tmp_path, [(1, "a", 10)])
        mv = _mv(tmp_path)
        with pytest.raises(ValueError, match="group column"):
            refresh_mv(
                src, mv, spark, name="t", group_cols=["g"],
                sum_cols=["x"], key="k", min_cols=["g"],
            )

    @settings(
        max_examples=_FUZZ_EXAMPLES,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
            HealthCheck.data_too_large,
        ],
        derandomize=_FUZZ_DERANDOMIZE,
    )
    @given(init=_rows_st, ops=st.lists(_op_st, min_size=1, max_size=5))
    def test_minmax_mv_equals_recompute_for_random_histories(
        self, spark, tmp_path_factory, init, ops
    ):
        base = tmp_path_factory.mktemp("mv_mm_fuzz")
        src = VersionedTable(f"{base}/{_uuid.uuid4().hex}")
        seen = set()
        init = [r for r in init if r[0] not in seen]
        src.commit(
            spark.createDataFrame(init, "k long, g string, x long"),
            mode="overwrite",
        )
        mv = VersionedTable(f"{base}/{_uuid.uuid4().hex}")
        _refresh_mm(src, mv, spark)
        for op in ops:
            kind = op[0]
            if kind == "merge":
                merge_into(
                    src, spark,
                    spark.createDataFrame(
                        op[1], "k long, g string, x long"
                    ),
                    key="k",
                )
            elif kind == "delete":
                lo, hi = sorted((op[1], op[2]))
                src.delete_where(spark, F.col("k").between(lo, hi))
            elif kind == "append":
                have = {
                    r["k"] for r in src.read(spark).select("k").collect()
                }
                fresh = [r for r in op[1] if r[0] not in have]
                if not fresh:
                    continue
                src.commit(
                    spark.createDataFrame(
                        fresh, "k long, g string, x long"
                    ),
                    mode="append",
                )
            else:
                _refresh_mm(src, mv, spark)
        _refresh_mm(src, mv, spark)
        assert _state_mm(spark, mv) == _recompute_mm(spark, src), (
            f"MIN/MAX MV diverged from recompute after {ops}"
        )


from file_stream_import_spark.operators.mv import refresh_join_mv


def _mk_join(spark, tmp_path):
    """orders-like A (k, ck, x) and customers-like B (ck, seg)."""
    a = VersionedTable(str(tmp_path / "a"))
    a.commit(
        spark.createDataFrame(
            [(1, 10, 100), (2, 10, 200), (3, 20, 50)],
            "k long, ck long, x long",
        ),
        mode="overwrite",
    )
    b = VersionedTable(str(tmp_path / "b"))
    b.commit(
        spark.createDataFrame(
            [(10, "gold"), (20, "iron")], "ck long, seg string"
        ),
        mode="overwrite",
    )
    return a, b


def _refresh_j(a, b, mv, spark):
    # percentile_cols rides every join-MV test (r16): each refresh
    # also folds the x histogram, and _hist_state_j pins it
    return refresh_join_mv(
        a, b, mv, spark,
        name="j", on=["ck"], group_cols=["seg"], sum_cols=["x"],
        key_a="k", key_b="ck", percentile_cols=["x"],
    )


def _hist_state_j(spark, mv):
    return {
        r["seg"]: dict(r["x_hist"])
        for r in mv.read(spark).collect()
    }


def _hist_rebuild_j(spark, a, b):
    """Histogram a bootstrap would build from the CURRENT join."""
    from file_stream_import_spark.operators.mv import (
        _DEFAULT_PCT_ERR,
        _hist_base,
        _hist_map,
    )

    joined = a.read(spark).join(b.read(spark), on="ck", how="inner")
    return {
        r["seg"]: dict(r["x_hist"])
        for r in _hist_map(
            joined, ["seg"], "x", _hist_base(_DEFAULT_PCT_ERR), F.lit(1)
        ).collect()
    }


def _state_j(spark, t):
    return sorted(
        (r["seg"], r["n_rows"], r["x"])
        for r in t.read(spark).collect()
    )


def _recompute_j(spark, a, b):
    return sorted(
        (r["seg"], r["n"], r["x"])
        for r in a.read(spark)
        .join(b.read(spark), on="ck", how="inner")
        .groupBy("seg")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.coalesce(F.sum("x"), F.lit(0)).cast("bigint").alias("x"),
        )
        .collect()
    )


class TestRefreshJoinMv:
    """r13 (continued): delta-join IVM — delta(A|><|B) = dA|><|B_new
    UNION A_old|><|dB, signs multiplied, one MERGE commit carrying
    BOTH watermarks."""

    def test_bootstrap_equals_join_aggregate(self, spark, tmp_path):
        a, b = _mk_join(spark, tmp_path)
        mv = _mv(tmp_path)
        assert _refresh_j(a, b, mv, spark) == (0, 0)
        assert _state_j(spark, mv) == [
            ("gold", 2, 300), ("iron", 1, 50)
        ] == _recompute_j(spark, a, b)

    def test_left_side_dml_only(self, spark, tmp_path):
        a, b = _mk_join(spark, tmp_path)
        mv = _mv(tmp_path)
        _refresh_j(a, b, mv, spark)
        a.commit(
            spark.createDataFrame(
                [(4, 20, 75)], "k long, ck long, x long"
            ),
            mode="append",
        )
        a.delete_where(spark, F.col("k") == 1)
        va, vb = _refresh_j(a, b, mv, spark)
        assert (va, vb) == (a.latest_version(), b.latest_version())
        assert _state_j(spark, mv) == _recompute_j(spark, a, b)

    def test_right_side_dml_joins_against_old_left(
        self, spark, tmp_path
    ):
        a, b = _mk_join(spark, tmp_path)
        mv = _mv(tmp_path)
        _refresh_j(a, b, mv, spark)
        # segment move: every A row under ck=10 regroups gold -> dust
        merge_into(
            b, spark,
            spark.createDataFrame([(10, "dust")], "ck long, seg string"),
            key="ck",
        )
        _refresh_j(a, b, mv, spark)
        assert _state_j(spark, mv) == [
            ("dust", 2, 300), ("iron", 1, 50)
        ] == _recompute_j(spark, a, b)

    def test_both_sides_change_in_one_window(self, spark, tmp_path):
        a, b = _mk_join(spark, tmp_path)
        mv = _mv(tmp_path)
        _refresh_j(a, b, mv, spark)
        # A: new row under a NEW ck; join-key update for k=3 (20->10)
        b.commit(
            spark.createDataFrame([(30, "salt")], "ck long, seg string"),
            mode="append",
        )
        a.commit(
            spark.createDataFrame(
                [(5, 30, 11)], "k long, ck long, x long"
            ),
            mode="append",
        )
        merge_into(
            a, spark,
            spark.createDataFrame(
                [(3, 10, 50)], "k long, ck long, x long"
            ),
            key="k",
        )
        b.delete_where(spark, F.col("ck") == 20)
        _refresh_j(a, b, mv, spark)
        assert _state_j(spark, mv) == [
            ("gold", 3, 350), ("salt", 1, 11)
        ] == _recompute_j(spark, a, b)

    def test_unmatched_rows_never_appear(self, spark, tmp_path):
        a, b = _mk_join(spark, tmp_path)
        mv = _mv(tmp_path)
        _refresh_j(a, b, mv, spark)
        # dangling A row (no B match) contributes nothing until its
        # B side arrives in a LATER window
        a.commit(
            spark.createDataFrame(
                [(6, 99, 1000)], "k long, ck long, x long"
            ),
            mode="append",
        )
        _refresh_j(a, b, mv, spark)
        assert _state_j(spark, mv) == _recompute_j(spark, a, b)
        b.commit(
            spark.createDataFrame([(99, "late")], "ck long, seg string"),
            mode="append",
        )
        _refresh_j(a, b, mv, spark)
        assert _state_j(spark, mv) == _recompute_j(spark, a, b)
        assert ("late", 1, 1000) in _state_j(spark, mv)

    def test_replay_applies_exactly_once(self, spark, tmp_path):
        a, b = _mk_join(spark, tmp_path)
        mv = _mv(tmp_path)
        _refresh_j(a, b, mv, spark)
        a.commit(
            spark.createDataFrame(
                [(7, 10, 5)], "k long, ck long, x long"
            ),
            mode="append",
        )
        _refresh_j(a, b, mv, spark)
        before = mv.latest_version()
        _refresh_j(a, b, mv, spark)  # converged: no new version
        assert mv.latest_version() == before
        assert _state_j(spark, mv) == _recompute_j(spark, a, b)

    def test_column_collision_rejected(self, spark, tmp_path):
        a, _ = _mk_join(spark, tmp_path)
        a2 = VersionedTable(str(tmp_path / "a2"))
        a2.commit(
            spark.createDataFrame(
                [(10, 1)], "ck long, x long"
            ),
            mode="overwrite",
        )
        mv = _mv(tmp_path, name="mv2")
        with pytest.raises(ValueError, match="collide"):
            refresh_join_mv(
                a, a2, mv, spark,
                name="j2", on=["ck"], group_cols=["x"], sum_cols=[],
                key_a="k", key_b="ck",
            )

    def test_percentile_histograms_through_both_side_dml(
        self, spark, tmp_path
    ):
        """r16 (VERDICT #3): percentile histograms in the join MV —
        folded through left-side DML, a right-side segment move (which
        regroups every joined row under the key), and deletes; stored
        maps equal a full rebuild and estimates land within 1% on a
        mixed-sign FRACTIONAL domain."""
        from file_stream_import_spark.operators.mv import (
            hist_percentile,
            refresh_join_mv,
        )

        a = VersionedTable(str(tmp_path / "pa"))
        # x double in [-0.9, 0.9]: sub-1 magnitudes on both signs
        a.commit(
            spark.range(0, 400).select(
                F.col("id").alias("k"),
                (F.col("id") % 4).alias("ck"),
                (((F.col("id") * 7) % 181 - 90) / 100.0).alias("x"),
            ),
            mode="overwrite",
        )
        b = VersionedTable(str(tmp_path / "pb"))
        b.commit(
            spark.createDataFrame(
                [(0, "g0"), (1, "g1"), (2, "g0"), (3, "g1")],
                "ck long, seg string",
            ),
            mode="overwrite",
        )
        mv = _mv(tmp_path, name="pjmv")
        kw = dict(
            name="pj", on=["ck"], group_cols=["seg"], sum_cols=["x"],
            key_a="k", key_b="ck", percentile_cols=["x"],
        )
        refresh_join_mv(a, b, mv, spark, **kw)
        assert _hist_state_j(spark, mv) == _hist_rebuild_j(spark, a, b)
        # left delete + right segment move in one window
        a.delete_where(spark, F.col("x") > 0.6)
        merge_into(
            b, spark,
            spark.createDataFrame([(2, "g2")], "ck long, seg string"),
            key="ck",
        )
        refresh_join_mv(a, b, mv, spark, **kw)
        assert _hist_state_j(spark, mv) == _hist_rebuild_j(spark, a, b)
        est = {
            r["seg"]: r["p50"]
            for r in mv.read(spark).select(
                "seg", hist_percentile("x_hist", 0.5).alias("p50")
            ).collect()
        }
        exact = {
            r["seg"]: r["e50"]
            for r in a.read(spark)
            .join(b.read(spark), on="ck", how="inner")
            .groupBy("seg")
            .agg(F.expr(
                "percentile_approx(x, 0.5, 100000)"
            ).alias("e50"))
            .collect()
        }
        for seg, e in exact.items():
            got = est[seg]
            if e == 0.0:
                assert got == 0.0, (seg, got)
            else:
                assert abs(got / e - 1) <= 0.0101, (seg, got, e)

    @settings(
        max_examples=_FUZZ_EXAMPLES,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
            HealthCheck.data_too_large,
        ],
        derandomize=_FUZZ_DERANDOMIZE,
    )
    @given(
        init=_rows_st,
        ops=st.lists(
            st.one_of(
                st.tuples(st.just("a_merge"), _rows_st),
                st.tuples(
                    st.just("a_delete"),
                    st.integers(0, 9),
                    st.integers(0, 9),
                ),
                st.tuples(
                    st.just("b_seg"),
                    st.integers(0, 5),
                    st.sampled_from(["s0", "s1", "s2"]),
                ),
                st.tuples(st.just("b_delete"), st.integers(0, 5)),
                st.tuples(st.just("refresh")),
            ),
            min_size=1,
            max_size=5,
        ),
    )
    def test_join_mv_equals_recompute_for_random_histories(
        self, spark, tmp_path_factory, init, ops
    ):
        base = tmp_path_factory.mktemp("jmv_fuzz")
        a = VersionedTable(f"{base}/{_uuid.uuid4().hex}")
        seen = set()
        init = [r for r in init if r[0] not in seen]
        # g maps onto the join key domain deterministically
        _ck = lambda g, x: "abc".index(g) + (abs(x) % 2) * 3
        rows = [(k, _ck(g, x), x) for k, g, x in init]
        a.commit(
            spark.createDataFrame(rows, "k long, ck long, x long"),
            mode="overwrite",
        )
        b = VersionedTable(f"{base}/{_uuid.uuid4().hex}")
        b.commit(
            spark.createDataFrame(
                [(ck, f"s{ck % 3}") for ck in range(6)],
                "ck long, seg string",
            ),
            mode="overwrite",
        )
        mv = VersionedTable(f"{base}/{_uuid.uuid4().hex}")
        _refresh_j(a, b, mv, spark)
        for op in ops:
            kind = op[0]
            if kind == "a_merge":
                rows = [(k, _ck(g, x), x) for k, g, x in op[1]]
                merge_into(
                    a, spark,
                    spark.createDataFrame(
                        rows, "k long, ck long, x long"
                    ),
                    key="k",
                )
            elif kind == "a_delete":
                lo, hi = sorted((op[1], op[2]))
                a.delete_where(spark, F.col("k").between(lo, hi))
            elif kind == "b_seg":
                merge_into(
                    b, spark,
                    spark.createDataFrame(
                        [(op[1], op[2])], "ck long, seg string"
                    ),
                    key="ck",
                )
            elif kind == "b_delete":
                b.delete_where(spark, F.col("ck") == op[1])
            else:
                _refresh_j(a, b, mv, spark)
        _refresh_j(a, b, mv, spark)
        assert _state_j(spark, mv) == _recompute_j(spark, a, b), (
            f"join MV diverged from recompute after {ops}"
        )
        # r16: the percentile histograms must be byte-equal to a full
        # rebuild from the final join — self-maintainability under the
        # delta-join's signed rows, fuzzed
        assert _hist_state_j(spark, mv) == _hist_rebuild_j(
            spark, a, b
        ), f"join-MV histogram diverged after {ops}"


from file_stream_import_spark.operators.mv import make_mv_maintainer


def _stream_mv(spark, src, tmp_path, name="smv", **stream_opts):
    from file_stream_import_spark.io.pysource import (
        TableChangefeedDataSource,
    )

    spark.dataSource.register(TableChangefeedDataSource)
    mv = VersionedTable(str(tmp_path / name))
    r = (
        spark.readStream.format("table_changefeed")
        .option("path", src.path)
        .option("readchangedata", "true")
        .option("key", "k")
    )
    for k, v in stream_opts.items():
        r = r.option(k, v)
    q = (
        r.load()
        .writeStream.foreachBatch(
            make_mv_maintainer(
                mv, "smv_q", group_cols=["g"], sum_cols=["x"]
            )
        )
        .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
        .start()
    )
    return q, mv


class TestStreamingMvMaintainer:
    """r13 (continued): streaming IVM — the CDF changefeed folds
    straight into an aggregate MV in foreachBatch, batch_id as the txn
    epoch. No bootstrap scan: from startingversion=earliest the empty
    MV plus the replayed v0 inserts IS the aggregate."""

    def test_mv_materializes_from_stream_alone(self, spark, tmp_path):
        src = _mk(spark, tmp_path, [(1, "a", 10), (2, "b", 20)])
        q, mv = _stream_mv(spark, src, tmp_path)
        try:
            q.processAllAvailable()
            assert _state(spark, mv) == _recompute(spark, src)
            # live DML while the stream runs: append, group move, delete
            src.commit(
                spark.createDataFrame(
                    [(3, "a", 5)], "k long, g string, x long"
                ),
                mode="append",
            )
            merge_into(
                src, spark,
                spark.createDataFrame(
                    [(1, "b", 10)], "k long, g string, x long"
                ),
                key="k",
            )
            src.delete_where(spark, F.col("g") == "b")
            q.processAllAvailable()
        finally:
            q.stop()
        assert _state(spark, mv) == _recompute(spark, src) == [
            ("a", 1, 5)
        ]

    def test_restart_from_checkpoint_applies_once(self, spark, tmp_path):
        src = _mk(spark, tmp_path, [(1, "a", 10)])
        q, mv = _stream_mv(spark, src, tmp_path)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        src.commit(
            spark.createDataFrame(
                [(2, "a", 7)], "k long, g string, x long"
            ),
            mode="append",
        )
        # restart against the SAME checkpoint: only the new version
        # folds, and a replayed epoch would skip via the txn watermark
        q2, _ = _stream_mv(spark, src, tmp_path)
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        assert _state(spark, mv) == [("a", 2, 17)] == _recompute(
            spark, src
        )

    def test_replayed_batch_id_skips(self, spark, tmp_path):
        src = _mk(spark, tmp_path, [(1, "a", 10), (2, "a", 30)])
        mv = VersionedTable(str(tmp_path / "mv_replay"))
        w = make_mv_maintainer(
            mv, "replay_q", group_cols=["g"], sum_cols=["x"]
        )
        batch = spark.createDataFrame(
            [(1, "a", 10, "insert", 0), (2, "a", 30, "insert", 0)],
            "k long, g string, x long, _change_type string, "
            "_commit_version int",
        )
        w(batch, 0)
        w(batch, 0)  # at-least-once redelivery: must be a no-op
        assert _state(spark, mv) == [("a", 2, 40)]

    def test_compaction_batch_is_a_noop(self, spark, tmp_path):
        src = _mk(spark, tmp_path, [(i, "a", i) for i in range(1, 5)])
        q, mv = _stream_mv(spark, src, tmp_path)
        try:
            q.processAllAvailable()
            before = mv.latest_version()
            src.compact(spark, min_bytes=1 << 30)
            q.processAllAvailable()
            # a pure compaction diffs to zero CDF rows: no MV commit
            assert mv.latest_version() == before
        finally:
            q.stop()
        assert _state(spark, mv) == _recompute(spark, src)


class TestMvOverMv:
    """An MV is itself a merge-maintained VersionedTable, key-unique on
    its group columns — so it satisfies the CDF source contract and
    can feed ANOTHER MV: a two-level rollup (g, h) -> (g) where each
    level refreshes O(its delta). No new machinery; the composition is
    the point."""

    def test_two_level_rollup_converges(self, spark, tmp_path):
        src = VersionedTable(str(tmp_path / "src"))
        src.commit(
            spark.createDataFrame(
                [(1, "a", "x", 10), (2, "a", "y", 20), (3, "b", "x", 5)],
                "k long, g string, h string, x long",
            ),
            mode="overwrite",
        )
        lvl1 = VersionedTable(str(tmp_path / "lvl1"))
        lvl2 = VersionedTable(str(tmp_path / "lvl2"))

        def refresh_both():
            refresh_mv(
                src, lvl1, spark, name="l1",
                group_cols=["g", "h"], sum_cols=["x"], key="k",
            )
            # lvl1's key IS its group pair; n_rows/x are payload
            refresh_mv(
                lvl1, lvl2, spark, name="l2",
                group_cols=["g"], sum_cols=["x", "n_rows"],
                key=["g", "h"], rows_col="n_groups",
            )

        refresh_both()
        want = sorted(
            (r["g"], r["n"], r["x"])
            for r in src.read(spark)
            .groupBy("g")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("x").cast("bigint").alias("x"),
            )
            .collect()
        )
        got = sorted(
            (r["g"], r["n_rows"], r["x"])
            for r in lvl2.read(spark).collect()
        )
        assert got == want == [("a", 2, 30), ("b", 1, 5)]
        # DML through every kind, then refresh the chain
        merge_into(
            src, spark,
            spark.createDataFrame(
                [(1, "b", "y", 99), (4, "c", "x", 1)],
                "k long, g string, h string, x long",
            ),
            key="k",
        )
        src.delete_where(spark, F.col("k") == 3)
        refresh_both()
        want = sorted(
            (r["g"], r["n"], r["x"])
            for r in src.read(spark)
            .groupBy("g")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("x").cast("bigint").alias("x"),
            )
            .collect()
        )
        got = sorted(
            (r["g"], r["n_rows"], r["x"])
            for r in lvl2.read(spark).collect()
        )
        assert got == want
        # the vanished (g='b') rollup row swept at BOTH levels
        assert ("b",) not in {
            (r["g"],) for r in lvl2.read(spark).collect()
        } or any(g == "b" for g, _, _ in want)


class TestWatermarkPinning:
    """pin_watermark=True tags the source at each watermark so vacuum
    can never expire the manifests the next refresh needs; without it,
    an aggressive vacuum forces the documented re-bootstrap."""

    def test_unpinned_vacuum_past_watermark_raises(
        self, spark, tmp_path
    ):
        src = _mk(spark, tmp_path, [(1, "a", 10)])
        mv = _mv(tmp_path)
        _refresh(src, mv, spark)
        for i in range(2, 6):
            src.commit(
                spark.createDataFrame(
                    [(i, "a", i)], "k long, g string, x long"
                ),
                mode="append",
            )
        src.vacuum(keep_versions=1, min_age_seconds=0)
        with pytest.raises(ValueError, match="expired|vacuum"):
            _refresh(src, mv, spark)

    def test_pinned_refresh_survives_aggressive_vacuum(
        self, spark, tmp_path
    ):
        src = _mk(spark, tmp_path, [(1, "a", 10)])
        mv = _mv(tmp_path)
        refresh_mv(
            src, mv, spark, name="t", group_cols=["g"],
            sum_cols=["x"], key="k", pin_watermark=True,
        )
        assert src.tags() == {"mvpin-t-0": 0}
        for i in range(2, 6):
            src.commit(
                spark.createDataFrame(
                    [(i, "a", i)], "k long, g string, x long"
                ),
                mode="append",
            )
        src.vacuum(keep_versions=1, min_age_seconds=0)
        # the pin held versions [0, latest] — the refresh folds and
        # MOVES the pin forward
        refresh_mv(
            src, mv, spark, name="t", group_cols=["g"],
            sum_cols=["x"], key="k", pin_watermark=True,
        )
        assert src.tags() == {"mvpin-t-4": 4}
        assert _state(spark, mv) == _recompute(spark, src)
        # with the pin advanced, vacuum may now reclaim the history
        src.vacuum(keep_versions=1, min_age_seconds=0)
        assert src.versions() == [4]

    def test_join_mv_pins_both_sides(self, spark, tmp_path):
        a, b = _mk_join(spark, tmp_path)
        mv = _mv(tmp_path)
        refresh_join_mv(
            a, b, mv, spark, name="j", on=["ck"],
            group_cols=["seg"], sum_cols=["x"],
            key_a="k", key_b="ck", pin_watermark=True,
        )
        assert a.tags() == {"mvpin-j-a-0": 0}
        assert b.tags() == {"mvpin-j-b-0": 0}
        a.commit(
            spark.createDataFrame(
                [(9, 10, 1)], "k long, ck long, x long"
            ),
            mode="append",
        )
        b.delete_where(spark, F.col("ck") == 20)
        a.vacuum(keep_versions=1, min_age_seconds=0)
        b.vacuum(keep_versions=1, min_age_seconds=0)
        refresh_join_mv(
            a, b, mv, spark, name="j", on=["ck"],
            group_cols=["seg"], sum_cols=["x"],
            key_a="k", key_b="ck", pin_watermark=True,
        )
        assert a.tags() == {"mvpin-j-a-1": 1}
        assert b.tags() == {"mvpin-j-b-1": 1}
        assert _state_j(spark, mv) == _recompute_j(spark, a, b)

    def test_pin_sweep_moves_only_its_own_pins(self, tmp_path):
        """An MV's sweep removes its own older pins and never the pins
        of an MV whose name extends its own (``daily-eu``, or the join
        MV ``daily``'s ``daily-a``): vacuum could otherwise expire the
        manifests that MV's next refresh needs."""
        from file_stream_import_spark.operators.mv import _pin_watermark

        src = VersionedTable(str(tmp_path / "src"))
        parent = None
        for _ in range(3):  # metadata-only snapshots v0..v2
            parent = src._publish(parent, {
                "schema": '{"type":"struct","fields":[]}',
                "groups": [], "mode": "append", "added": [],
                "delete_entries": [], "stats": {},
            })
        _pin_watermark(src, "daily", 0)
        _pin_watermark(src, "daily-eu", 0)
        _pin_watermark(src, "daily-a", 1)
        _pin_watermark(src, "daily", 2)
        assert src.tags() == {
            "mvpin-daily-eu-0": 0, "mvpin-daily-a-1": 1, "mvpin-daily-2": 2,
        }


class TestFractionalSums:
    """Review finding (r13 continuation): SUM folding must preserve the
    column's numeric family — the old unconditional bigint cast
    silently truncated fractional deltas (a 0.4 delta folded as 0 and
    the MV drifted from the recompute with no error)."""

    def test_double_sums_fold_without_truncation(self, spark, tmp_path):
        src = VersionedTable(str(tmp_path / "src"))
        # binary-exact fractions so equality against the recompute is
        # exact, not approximate
        src.commit(
            spark.createDataFrame(
                [(1, "a", 0.5), (2, "a", 0.25)],
                "k long, g string, x double",
            ),
            mode="overwrite",
        )
        mv = _mv(tmp_path)
        refresh_mv(
            src, mv, spark, name="t", group_cols=["g"],
            sum_cols=["x"], key="k",
        )
        assert mv.read(spark).schema["x"].dataType.typeName() == (
            "double"
        )
        src.commit(
            spark.createDataFrame(
                [(3, "a", 0.125)], "k long, g string, x double"
            ),
            mode="append",
        )
        src.delete_where(spark, F.col("k") == 1)
        refresh_mv(
            src, mv, spark, name="t", group_cols=["g"],
            sum_cols=["x"], key="k",
        )
        rows = mv.read(spark).collect()
        assert [(r["g"], r["n_rows"], r["x"]) for r in rows] == [
            ("a", 2, 0.375)
        ]

    def test_decimal_sum_col_folds_exactly(self, spark, tmp_path):
        """r14: the r13 loud rejection is replaced by an exact
        decimal(38, s) fold (see TestRefreshMvDecimal for the full
        battery) — the plain refresh path must accept decimals."""
        src = VersionedTable(str(tmp_path / "src_dec"))
        src.commit(
            spark.createDataFrame(
                [(1, "a")], "k long, g string"
            ).select(
                "k", "g", F.lit("1.50").cast("decimal(10,2)").alias("x")
            ),
            mode="overwrite",
        )
        mv = _mv(tmp_path, name="mv_dec")
        refresh_mv(
            src, mv, spark, name="t", group_cols=["g"],
            sum_cols=["x"], key="k",
        )
        row = mv.read(spark).collect()[0]
        assert str(row["x"]) == "1.50"
        assert dict(
            (f.name, f.dataType.simpleString())
            for f in mv.read(spark).schema.fields
        )["x"] == "decimal(38,2)"


class TestSumsqCols:
    """sumsq_cols: sum of squares folded as double — VAR/STDDEV at
    read time, fully self-maintainable under deletes like SUM."""

    def test_variance_matches_recompute(self, spark, tmp_path):
        src = _mk(
            spark, tmp_path,
            [(1, "a", 2), (2, "a", 4), (3, "a", 6), (4, "b", 10)],
        )
        mv = _mv(tmp_path)

        def refresh():
            refresh_mv(
                src, mv, spark, name="t", group_cols=["g"],
                sum_cols=["x"], key="k", sumsq_cols=["x"],
            )

        refresh()
        rows = {r["g"]: r for r in mv.read(spark).collect()}
        assert rows["a"]["x_sumsq"] == 4.0 + 16.0 + 36.0
        # DML through every kind, then one refresh
        merge_into(
            src, spark,
            spark.createDataFrame(
                [(1, "a", 8), (5, "b", 3)], "k long, g string, x long"
            ),
            key="k",
        )
        src.delete_where(spark, F.col("k") == 2)
        refresh()
        want = {
            r["g"]: (r["n"], r["s"], r["ss"])
            for r in src.read(spark)
            .groupBy("g")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("x").cast("bigint").alias("s"),
                F.sum(
                    F.col("x").cast("double") * F.col("x").cast("double")
                ).alias("ss"),
            )
            .collect()
        }
        got = {
            r["g"]: (r["n_rows"], r["x"], r["x_sumsq"])
            for r in mv.read(spark).collect()
        }
        assert got == want
        # variance derived at read equals the recompute's variance
        n, sm, ss = got["a"]
        var = ss / n - (sm / n) ** 2
        truth = (
            src.read(spark)
            .filter(F.col("g") == "a")
            .agg(F.var_pop("x"))
            .first()[0]
        )
        assert abs(var - truth) < 1e-9

    def test_name_collision_rejected(self, spark, tmp_path):
        src = _mk(spark, tmp_path, [(1, "a", 1)])
        mv = _mv(tmp_path, name="mv_sq")
        with pytest.raises(ValueError, match="group column"):
            refresh_mv(
                src, mv, spark, name="t", group_cols=["g"],
                sum_cols=["x"], key="k", sumsq_cols=["g"],
            )


class TestFloatMvFuzz:
    """Convergence fuzz for the DOUBLE fold path (review-fix coverage):
    values are dyadic rationals (i/8) with tiny magnitudes, so every
    signed fold is exact in binary floating point and the MV must
    EQUAL the recompute, not just approximate it."""

    def _refresh_d(self, src, mv, spark):
        return refresh_mv(
            src, mv, spark, name="t", group_cols=["g"],
            sum_cols=["x"], key="k", sumsq_cols=["x"],
        )

    def _state_d(self, spark, t):
        return sorted(
            (r["g"], r["n_rows"], r["x"], r["x_sumsq"])
            for r in t.read(spark).collect()
        )

    def _recompute_d(self, spark, src):
        return sorted(
            (r["g"], r["n"], r["x"], r["ss"])
            for r in src.read(spark)
            .groupBy("g")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.coalesce(F.sum("x"), F.lit(0.0)).alias("x"),
                F.coalesce(
                    F.sum(F.col("x") * F.col("x")), F.lit(0.0)
                ).alias("ss"),
            )
            .collect()
        )

    @settings(
        max_examples=_FUZZ_EXAMPLES,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
            HealthCheck.data_too_large,
        ],
        derandomize=_FUZZ_DERANDOMIZE,
    )
    @given(init=_rows_st, ops=st.lists(_op_st, min_size=1, max_size=4))
    def test_double_mv_equals_recompute(
        self, spark, tmp_path_factory, init, ops
    ):
        base = tmp_path_factory.mktemp("mv_dbl_fuzz")
        mk_rows = lambda rows: [(k, g, x / 8.0) for k, g, x in rows]
        src = VersionedTable(f"{base}/{_uuid.uuid4().hex}")
        src.commit(
            spark.createDataFrame(
                mk_rows(init), "k long, g string, x double"
            ),
            mode="overwrite",
        )
        mv = VersionedTable(f"{base}/{_uuid.uuid4().hex}")
        self._refresh_d(src, mv, spark)
        for op in ops:
            kind = op[0]
            if kind == "merge":
                merge_into(
                    src, spark,
                    spark.createDataFrame(
                        mk_rows(op[1]), "k long, g string, x double"
                    ),
                    key="k",
                )
            elif kind == "delete":
                lo, hi = sorted((op[1], op[2]))
                src.delete_where(spark, F.col("k").between(lo, hi))
            elif kind == "append":
                have = {
                    r["k"] for r in src.read(spark).select("k").collect()
                }
                fresh = [r for r in mk_rows(op[1]) if r[0] not in have]
                if not fresh:
                    continue
                src.commit(
                    spark.createDataFrame(
                        fresh, "k long, g string, x double"
                    ),
                    mode="append",
                )
            else:
                self._refresh_d(src, mv, spark)
        self._refresh_d(src, mv, spark)
        assert self._state_d(spark, mv) == self._recompute_d(
            spark, src
        ), f"double MV diverged after {ops}"


# ---------------------------------------------------------------------------
# r14: exact decimal SUM folding, exact COUNT DISTINCT (support-table
# IVM), and streaming-maintainer measure parity with batch refresh_mv.
# ---------------------------------------------------------------------------

from decimal import Decimal

from file_stream_import_spark.operators.mv import nd_aux_table


def _mk_dec(spark, tmp_path, rows, name="dsrc"):
    t = VersionedTable(str(tmp_path / name))
    t.commit(
        spark.createDataFrame(rows, "k long, g string, d decimal(20,3)"),
        mode="overwrite",
    )
    return t


class TestRefreshMvDecimal:
    """r14: decimals fold EXACTLY as decimal(38, s) — the r13 loud
    rejection replaced by the same max-precision widening Spark's own
    SUM uses. The probe values carry 17+ significant digits with a
    fractional part, so a double fold would visibly drift."""

    BIG = Decimal("12345678901234567.891")

    def _refresh(self, src, mv, spark):
        return refresh_mv(
            src, mv, spark,
            name="dec", group_cols=["g"], sum_cols=["d"], key="k",
        )

    def _recompute(self, spark, src):
        return sorted(
            (r["g"], r["n"], r["d"])
            for r in src.read(spark)
            .groupBy("g")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("d").cast("decimal(38,3)").alias("d"),
            )
            .collect()
        )

    def _state(self, spark, mv):
        return sorted(
            (r["g"], r["n_rows"], r["d"])
            for r in mv.read(spark).collect()
        )

    def test_bootstrap_widens_to_decimal38(self, spark, tmp_path):
        src = _mk_dec(
            spark, tmp_path,
            [(1, "a", self.BIG), (2, "a", Decimal("0.001"))],
        )
        mv = _mv(tmp_path, "dmv0")
        self._refresh(src, mv, spark)
        f = dict(
            (fld.name, fld.dataType.simpleString())
            for fld in mv.read(spark).schema.fields
        )
        assert f["d"] == "decimal(38,3)"
        assert self._state(spark, mv) == [
            ("a", 2, Decimal("12345678901234567.892"))
        ]

    def test_incremental_fold_is_exact(self, spark, tmp_path):
        src = _mk_dec(
            spark, tmp_path,
            [(1, "a", self.BIG), (2, "b", Decimal("7.125"))],
        )
        mv = _mv(tmp_path, "dmv1")
        self._refresh(src, mv, spark)
        src.commit(
            spark.createDataFrame(
                [(3, "a", Decimal("0.003"))],
                "k long, g string, d decimal(20,3)",
            ),
            mode="append",
        )
        merge_into(
            src, spark,
            spark.createDataFrame(
                [(2, "a", Decimal("7.125"))],
                "k long, g string, d decimal(20,3)",
            ),
            key="k",
        )
        src.delete_where(spark, F.col("k") == 1)
        self._refresh(src, mv, spark)
        got = self._state(spark, mv)
        assert got == self._recompute(spark, src)
        # the survivors: 0.003 + 7.125 in group a, exactly
        assert got == [("a", 2, Decimal("7.128"))]

    def test_join_mv_and_maintainer_accept_decimal(
        self, spark, tmp_path
    ):
        # the shared _sum_fold_types gate: both non-batch surfaces
        # fold decimal as decimal(38, s) instead of raising
        from file_stream_import_spark.operators.mv import (
            _sum_fold_types,
        )

        schema = spark.createDataFrame(
            [(Decimal("1.5"),)], "d decimal(10,2)"
        ).schema
        assert _sum_fold_types(schema, ["d"]) == {
            "d": "decimal(38,2)"
        }


def _mk_v(spark, tmp_path, rows, name="vsrc"):
    t = VersionedTable(str(tmp_path / name))
    t.commit(
        spark.createDataFrame(
            rows, "k long, g string, v string, x long"
        ),
        mode="overwrite",
    )
    return t


def _refresh_nd(src, mv, spark):
    return refresh_mv(
        src, mv, spark,
        name="nd", group_cols=["g"], sum_cols=["x"], key="k",
        distinct_cols=["v"],
    )


def _state_nd(spark, mv):
    return sorted(
        (r["g"], r["n_rows"], r["x"], r["v_nd"])
        for r in mv.read(spark).collect()
    )


def _recompute_nd(spark, src):
    return sorted(
        (r["g"], r["n"], r["x"], r["nd"])
        for r in src.read(spark)
        .groupBy("g")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.coalesce(F.sum("x"), F.lit(0)).cast("bigint").alias("x"),
            F.count_distinct("v").cast("bigint").alias("nd"),
        )
        .collect()
    )


class TestRefreshMvDistinct:
    """r14: exact COUNT DISTINCT via the classic IVM support table
    (nd_aux_table) — a sibling VersionedTable keyed (group, value)
    with signed occurrence counts, folded O(delta) from the same CDF
    walk; nd = live aux rows per touched group."""

    def test_bootstrap_counts_distinct(self, spark, tmp_path):
        src = _mk_v(
            spark, tmp_path,
            [(1, "a", "x", 1), (2, "a", "x", 2), (3, "a", "y", 3),
             (4, "b", "z", 4)],
        )
        mv = _mv(tmp_path, "ndmv0")
        _refresh_nd(src, mv, spark)
        assert _state_nd(spark, mv) == [
            ("a", 3, 6, 2), ("b", 1, 4, 1)
        ]

    def test_incremental_through_each_dml_kind(self, spark, tmp_path):
        src = _mk_v(
            spark, tmp_path,
            [(1, "a", "x", 1), (2, "a", "y", 2), (3, "b", "x", 3)],
        )
        mv = _mv(tmp_path, "ndmv1")
        _refresh_nd(src, mv, spark)
        src.commit(
            spark.createDataFrame(
                [(4, "a", "z", 4)],
                "k long, g string, v string, x long",
            ),
            mode="append",
        )
        merge_into(  # value change x->y inside group b
            src, spark,
            spark.createDataFrame(
                [(3, "b", "y", 3)],
                "k long, g string, v string, x long",
            ),
            key="k",
        )
        src.delete_where(spark, F.col("k") == 2)  # last 'y' in a
        _refresh_nd(src, mv, spark)
        assert _state_nd(spark, mv) == _recompute_nd(spark, src)

    def test_duplicate_value_delete_keeps_nd(self, spark, tmp_path):
        src = _mk_v(
            spark, tmp_path,
            [(1, "a", "x", 1), (2, "a", "x", 2), (3, "a", "y", 3)],
        )
        mv = _mv(tmp_path, "ndmv2")
        _refresh_nd(src, mv, spark)
        src.delete_where(spark, F.col("k") == 1)  # one of two 'x's
        _refresh_nd(src, mv, spark)
        assert _state_nd(spark, mv) == [("a", 2, 5, 2)]
        src.delete_where(spark, F.col("k") == 2)  # the LAST 'x'
        _refresh_nd(src, mv, spark)
        assert _state_nd(spark, mv) == [("a", 1, 3, 1)]

    def test_nulls_are_transparent(self, spark, tmp_path):
        src = _mk_v(
            spark, tmp_path,
            [(1, "a", None, 1), (2, "a", "x", 2)],
        )
        mv = _mv(tmp_path, "ndmv3")
        _refresh_nd(src, mv, spark)
        assert _state_nd(spark, mv) == [("a", 2, 3, 1)]
        src.commit(
            spark.createDataFrame(
                [(3, "a", None, 4)],
                "k long, g string, v string, x long",
            ),
            mode="append",
        )
        _refresh_nd(src, mv, spark)
        assert _state_nd(spark, mv) == [("a", 3, 7, 1)] == (
            _recompute_nd(spark, src)
        )

    def test_vanished_group_sweeps_mv_and_aux(self, spark, tmp_path):
        src = _mk_v(
            spark, tmp_path,
            [(1, "a", "x", 1), (2, "b", "y", 2)],
        )
        mv = _mv(tmp_path, "ndmv4")
        _refresh_nd(src, mv, spark)
        src.delete_where(spark, F.col("g") == "b")
        _refresh_nd(src, mv, spark)
        assert _state_nd(spark, mv) == [("a", 1, 1, 1)]
        aux = nd_aux_table(mv, "v")
        assert sorted(
            (r["g"], r["v"], r["cnt"])
            for r in aux.read(spark).collect()
        ) == [("a", "x", 1)]

    def test_crash_between_aux_and_mv_replays_once(
        self, spark, tmp_path
    ):
        """Simulated crash: the aux fold committed but the MV merge
        never ran. The replayed refresh must skip the aux fold
        (watermark) yet still converge the MV's nd."""
        from file_stream_import_spark.operators.mv import _fold_aux

        src = _mk_v(
            spark, tmp_path, [(1, "a", "x", 1), (2, "a", "y", 2)]
        )
        mv = _mv(tmp_path, "ndmv5")
        _refresh_nd(src, mv, spark)
        src.delete_where(spark, F.col("k") == 2)
        # crash simulation: fold ONLY the aux to the new version
        _fold_aux(
            nd_aux_table(mv, "v"), src, spark,
            group_cols=["g"], col="v", key="k",
            tag="mv:nd", cur=src.latest_version(),
        )
        _refresh_nd(src, mv, spark)  # the "replay"
        assert _state_nd(spark, mv) == [("a", 1, 1, 1)] == (
            _recompute_nd(spark, src)
        )

    def test_validation_rejects_bad_columns(self, spark, tmp_path):
        src = _mk_v(spark, tmp_path, [(1, "a", "x", 1)])
        mv = _mv(tmp_path, "ndmv6")
        with pytest.raises(ValueError, match="group column"):
            refresh_mv(
                src, mv, spark, name="nd", group_cols=["g"],
                sum_cols=["x"], key="k", distinct_cols=["g"],
            )
        with pytest.raises(ValueError, match="not in source schema"):
            refresh_mv(
                src, mv, spark, name="nd", group_cols=["g"],
                sum_cols=["x"], key="k", distinct_cols=["nope"],
            )

    @settings(
        max_examples=_FUZZ_EXAMPLES,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
            HealthCheck.data_too_large,
        ],
        derandomize=_FUZZ_DERANDOMIZE,
    )
    @given(
        init=_rows_st, ops=st.lists(_op_st, min_size=1, max_size=4)
    )
    def test_nd_mv_equals_recompute_for_random_histories(
        self, spark, tmp_path_factory, init, ops
    ):
        base = tmp_path_factory.mktemp("nd_fuzz")
        src = VersionedTable(f"{base}/{_uuid.uuid4().hex}")
        seen = set()
        init = [r for r in init if r[0] not in seen]
        # derive a LOW-CARDINALITY value column from x so inserts and
        # deletes frequently collide on (group, value) — the case the
        # support counts exist for
        def widen(rows):
            return [
                (k, g, f"v{abs(x) % 3}", x) for (k, g, x) in rows
            ]

        src.commit(
            spark.createDataFrame(
                widen(init), "k long, g string, v string, x long"
            ),
            mode="overwrite",
        )
        mv = VersionedTable(f"{base}/{_uuid.uuid4().hex}")
        _refresh_nd(src, mv, spark)
        for op in ops:
            kind = op[0]
            if kind == "merge":
                merge_into(
                    src, spark,
                    spark.createDataFrame(
                        widen(op[1]),
                        "k long, g string, v string, x long",
                    ),
                    key="k",
                )
            elif kind == "delete":
                lo, hi = sorted((op[1], op[2]))
                src.delete_where(spark, F.col("k").between(lo, hi))
            elif kind == "append":
                have = {
                    r["k"]
                    for r in src.read(spark).select("k").collect()
                }
                fresh = [r for r in widen(op[1]) if r[0] not in have]
                if not fresh:
                    continue
                src.commit(
                    spark.createDataFrame(
                        fresh, "k long, g string, v string, x long"
                    ),
                    mode="append",
                )
            elif kind == "rename_cycle":
                # cycle the VALUE column: the aux fold must route the
                # distinct values through the rename chain too
                src.rename_column("v", "v_tmp")
                src.rename_column("v_tmp", "v")
            else:
                _refresh_nd(src, mv, spark)
        _refresh_nd(src, mv, spark)
        assert _state_nd(spark, mv) == _recompute_nd(spark, src), (
            f"distinct MV diverged from recompute after {ops}"
        )


def _stream_mv_full(spark, src, tmp_path, name="smvf"):
    """Streaming maintainer with the FULL r14 measure set — min/max
    (endangered recompute off the batch-pinned source snapshot),
    sumsq, and exact distinct."""
    from file_stream_import_spark.io.pysource import (
        TableChangefeedDataSource,
    )

    spark.dataSource.register(TableChangefeedDataSource)
    mv = VersionedTable(str(tmp_path / name))
    q = (
        spark.readStream.format("table_changefeed")
        .option("path", src.path)
        .option("readchangedata", "true")
        .option("key", "k")
        .option("maxversionspertrigger", "1")
        .load()
        .writeStream.foreachBatch(
            make_mv_maintainer(
                mv, "smvf_q", group_cols=["g"], sum_cols=["x"],
                source=src, min_cols=["x"], max_cols=["x"],
                sumsq_cols=["x"], distinct_cols=["v"],
            )
        )
        .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
        .start()
    )
    return q, mv


def _recompute_full(spark, src):
    return sorted(
        tuple(r)
        for r in src.read(spark)
        .groupBy("g")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.coalesce(F.sum("x"), F.lit(0)).cast("bigint").alias("x"),
            F.coalesce(
                F.sum(
                    F.col("x").cast("double") * F.col("x").cast("double")
                ),
                F.lit(0.0),
            ).alias("sq"),
            F.min("x").alias("mn"),
            F.max("x").alias("mx"),
            F.count_distinct("v").cast("bigint").alias("nd"),
        )
        .collect()
    )


def _state_full(spark, mv):
    return sorted(
        tuple(r)
        for r in mv.read(spark)
        .select(
            "g", "n_rows", "x", "x_sumsq", "x_min", "x_max", "v_nd"
        )
        .collect()
    )


class TestStreamingMaintainerParity:
    """r14: the streaming maintainer carries every measure the batch
    refresher does (MIN/MAX endangered recompute, SUMSQ, exact
    DISTINCT), so the two paths cannot drift."""

    def test_extreme_delete_crosses_batch_boundary(
        self, spark, tmp_path
    ):
        src = _mk_v(
            spark, tmp_path,
            [(1, "a", "x", 10), (2, "a", "y", 20), (3, "b", "x", 5)],
        )
        # v1 deletes group a's max AND the last 'y' — at one version
        # per trigger this lands in its own micro-batch, forcing the
        # endangered recompute against source@v1, not source@latest
        src.delete_where(spark, F.col("k") == 2)
        # v2 appends a new minimum for b plus a duplicate value
        src.commit(
            spark.createDataFrame(
                [(4, "b", "x", 1)],
                "k long, g string, v string, x long",
            ),
            mode="append",
        )
        q, mv = _stream_mv_full(spark, src, tmp_path)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert _state_full(spark, mv) == _recompute_full(spark, src)

    def test_restart_from_checkpoint_with_new_measures(
        self, spark, tmp_path
    ):
        src = _mk_v(
            spark, tmp_path, [(1, "a", "x", 10), (2, "a", "y", 20)]
        )
        q, mv = _stream_mv_full(spark, src, tmp_path)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # DML while the stream is DOWN: delete the stored max (forces
        # endangered recompute on restart) and the last 'y'
        src.delete_where(spark, F.col("k") == 2)
        src.commit(
            spark.createDataFrame(
                [(3, "a", "z", 7)],
                "k long, g string, v string, x long",
            ),
            mode="append",
        )
        q2, _ = _stream_mv_full(spark, src, tmp_path)
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        assert _state_full(spark, mv) == _recompute_full(spark, src)

    def test_replayed_batch_skips_aux_and_mv(self, spark, tmp_path):
        src = _mk_v(spark, tmp_path, [(1, "a", "x", 1)])
        mv = VersionedTable(str(tmp_path / "mv_rp"))
        w = make_mv_maintainer(
            mv, "rp_q", group_cols=["g"], sum_cols=["x"],
            distinct_cols=["v"],
        )
        batch = spark.createDataFrame(
            [(1, "a", "x", 1, "insert", 0),
             (2, "a", "y", 2, "insert", 0)],
            "k long, g string, v string, x long, "
            "_change_type string, _commit_version int",
        )
        w(batch, 0)
        w(batch, 0)  # redelivery: neither the aux nor the MV re-fold
        assert _state_nd(spark, mv) == [("a", 2, 3, 2)]
        aux = nd_aux_table(mv, "v")
        assert sorted(
            (r["g"], r["v"], r["cnt"])
            for r in aux.read(spark).collect()
        ) == [("a", "x", 1), ("a", "y", 1)]

    def test_minmax_requires_source(self, spark, tmp_path):
        mv = VersionedTable(str(tmp_path / "mv_ns"))
        with pytest.raises(ValueError, match="source"):
            make_mv_maintainer(
                mv, "q", group_cols=["g"], sum_cols=["x"],
                min_cols=["x"],
            )


class TestMvRenameLockstep:
    """r14: renames through MV chains. A REAL (non-cycle) rename of
    the distinct value column migrates in lockstep — source column,
    aux table (path + column), and the MV's nd column — and the next
    refresh converges under the new names; and an MV-over-MV rollup
    refreshes through a rename on the LEVEL-1 MV (its CDF replay range
    contains the rename commit)."""

    def test_distinct_value_column_lockstep_rename(
        self, spark, tmp_path
    ):
        import os as _osmod

        src = _mk_v(
            spark, tmp_path, [(1, "a", "x", 1), (2, "a", "y", 2)]
        )
        mv = _mv(tmp_path, "ren_nd_mv")
        _refresh_nd(src, mv, spark)
        # the documented lockstep migration: source col, aux dir +
        # col, MV nd col — all renamed together, then refresh with the
        # new name
        from file_stream_import_spark.operators.mv import rename_in_spec

        src.rename_column("v", "w")
        old_aux = nd_aux_table(mv, "v")
        new_aux = nd_aux_table(mv, "w")
        _osmod.rename(old_aux.path, new_aux.path)
        new_aux.rename_column("v", "w")
        mv.rename_column("v_nd", "w_nd")
        rename_in_spec(mv, {"v": "w"})  # r16: spec follows the rename
        src.commit(
            spark.createDataFrame(
                [(3, "a", "x", 4)],
                "k long, g string, w string, x long",
            ),
            mode="append",
        )
        src.delete_where(spark, F.col("k") == 2)  # last 'y' leaves
        refresh_mv(
            src, mv, spark,
            name="nd", group_cols=["g"], sum_cols=["x"], key="k",
            distinct_cols=["w"],
        )
        got = sorted(
            (r["g"], r["n_rows"], r["x"], r["w_nd"])
            for r in mv.read(spark).collect()
        )
        assert got == [("a", 2, 5, 1)]

    def test_mv_over_mv_refreshes_through_level1_rename(
        self, spark, tmp_path
    ):
        src = _mk(
            spark, tmp_path,
            [(1, "a", 10), (2, "a", 20), (3, "b", 5)],
            name="l0",
        )
        mv1 = _mv(tmp_path, "l1")
        mv2 = _mv(tmp_path, "l2")
        _refresh(src, mv1, spark)
        # level-2 rolls the level-1 MV up to one global row; the MV is
        # key-unique on its group column, satisfying the CDF contract
        refresh_mv(
            mv1, mv2, spark,
            name="l2", group_cols=["n_rows"], sum_cols=["x"], key="g",
            rows_col="n_l1_groups",
        )
        # rename the sum column in LOCKSTEP at ALL THREE levels (the
        # documented recipe), then more source DML and chained
        # refreshes: level 2's CDF replay range now CONTAINS mv1's
        # rename commit and the post-rename merge
        from file_stream_import_spark.operators.mv import rename_in_spec

        src.rename_column("x", "cents")
        mv1.rename_column("x", "cents")
        mv2.rename_column("x", "cents")
        rename_in_spec(mv1, {"x": "cents"})
        rename_in_spec(mv2, {"x": "cents"})
        src.commit(
            spark.createDataFrame(
                [(4, "b", 7)], "k long, g string, cents long"
            ),
            mode="append",
        )
        refresh_mv(
            src, mv1, spark,
            name="t", group_cols=["g"], sum_cols=["cents"], key="k",
        )
        refresh_mv(
            mv1, mv2, spark,
            name="l2", group_cols=["n_rows"], sum_cols=["cents"],
            key="g", rows_col="n_l1_groups",
        )
        want = sorted(
            (r["n"], r["c"])
            for r in mv1.read(spark)
            .groupBy("n_rows")
            .agg(F.sum("cents").alias("c"))
            .select(F.col("n_rows").alias("n"), "c")
            .collect()
        )
        got = sorted(
            (r["n_rows"], r["cents"])
            for r in mv2.read(spark).select("n_rows", "cents").collect()
        )
        assert got == want


class TestRefreshMvApproxDistinct:
    """r14: approx COUNT DISTINCT via mergeable HLL sketches —
    insert-only folds union sketches with NO aux state; any delete in
    a group endangers it and re-sketches from the source, group-pruned.
    At these cardinalities the datasketches HLL is exact, so the tests
    assert equality; the tolerance story is the driver query's."""

    def _refresh(self, src, mv, spark):
        return refresh_mv(
            src, mv, spark,
            name="h", group_cols=["g"], sum_cols=["x"], key="k",
            approx_distinct_cols=["v"],
        )

    def _est(self, spark, mv):
        return sorted(
            (r["g"], r["n_rows"], r["e"])
            for r in mv.read(spark)
            .select(
                "g", "n_rows",
                F.hll_sketch_estimate("v_hll").alias("e"),
            )
            .collect()
        )

    def _exact(self, spark, src):
        return sorted(
            (r["g"], r["n"], r["nd"])
            for r in src.read(spark)
            .groupBy("g")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.count_distinct("v").cast("bigint").alias("nd"),
            )
            .collect()
        )

    def test_insert_only_folds_by_union(self, spark, tmp_path):
        src = _mk_v(
            spark, tmp_path, [(1, "a", "x", 1), (2, "a", "y", 2)]
        )
        mv = _mv(tmp_path, "hll0")
        self._refresh(src, mv, spark)
        src.commit(
            spark.createDataFrame(
                [(3, "a", "x", 3), (4, "a", "z", 4), (5, "b", "x", 5)],
                "k long, g string, v string, x long",
            ),
            mode="append",
        )
        self._refresh(src, mv, spark)
        assert self._est(spark, mv) == self._exact(spark, src)

    def test_delete_triggers_group_pruned_resketch(
        self, spark, tmp_path
    ):
        src = _mk_v(
            spark, tmp_path,
            [(1, "a", "x", 1), (2, "a", "y", 2), (3, "b", "z", 3)],
        )
        mv = _mv(tmp_path, "hll1")
        self._refresh(src, mv, spark)
        src.delete_where(spark, F.col("k") == 2)  # last 'y' in a
        self._refresh(src, mv, spark)
        assert self._est(spark, mv) == self._exact(spark, src)

    def test_update_moving_value_between_groups(self, spark, tmp_path):
        src = _mk_v(
            spark, tmp_path, [(1, "a", "x", 1), (2, "b", "y", 2)]
        )
        mv = _mv(tmp_path, "hll2")
        self._refresh(src, mv, spark)
        # move row 1 to group b: a loses its only value (delete side
        # endangers a), b gains one (insert side unions)
        merge_into(
            src, spark,
            spark.createDataFrame(
                [(1, "b", "x", 1)],
                "k long, g string, v string, x long",
            ),
            key="k",
        )
        self._refresh(src, mv, spark)
        assert self._est(spark, mv) == self._exact(spark, src)

    def test_validation(self, spark, tmp_path):
        src = _mk_v(spark, tmp_path, [(1, "a", "x", 1)])
        mv = _mv(tmp_path, "hll3")
        with pytest.raises(ValueError, match="group column"):
            refresh_mv(
                src, mv, spark, name="h", group_cols=["g"],
                sum_cols=["x"], key="k", approx_distinct_cols=["g"],
            )


class TestDistinctScanDiscipline:
    """100 TB discipline pins for the r14 distinct variants: an
    append-only delta refresh never reads the SOURCE snapshot (the CDF
    walk reads group files directly; nd comes from the aux table /
    sketch union) — mirroring the r13 extremes pin."""

    def test_exact_distinct_append_only_never_reads_source(
        self, spark, tmp_path, monkeypatch
    ):
        src = _mk_v(
            spark, tmp_path, [(1, "a", "x", 1), (2, "a", "y", 2)]
        )
        mv = _mv(tmp_path, "sd0")
        _refresh_nd(src, mv, spark)
        src.commit(
            spark.createDataFrame(
                [(3, "a", "z", 3), (4, "b", "x", 4)],
                "k long, g string, v string, x long",
            ),
            mode="append",
        )
        reads = {"n": 0}
        orig = VersionedTable.read

        def counting(self, *a, **kw):
            if self.path == src.path:
                reads["n"] += 1
            return orig(self, *a, **kw)

        monkeypatch.setattr(VersionedTable, "read", counting)
        _refresh_nd(src, mv, spark)
        assert reads["n"] == 0
        assert _state_nd(spark, mv) == _recompute_nd(spark, src)

    def test_approx_distinct_append_only_never_reads_source(
        self, spark, tmp_path, monkeypatch
    ):
        src = _mk_v(
            spark, tmp_path, [(1, "a", "x", 1), (2, "b", "y", 2)]
        )
        mv = _mv(tmp_path, "sd1")
        kw = dict(
            name="h", group_cols=["g"], sum_cols=["x"], key="k",
            approx_distinct_cols=["v"],
        )
        refresh_mv(src, mv, spark, **kw)
        src.commit(
            spark.createDataFrame(
                [(3, "a", "z", 3)],
                "k long, g string, v string, x long",
            ),
            mode="append",
        )
        reads = {"n": 0}
        orig = VersionedTable.read

        def counting(self, *a, **kw):
            if self.path == src.path:
                reads["n"] += 1
            return orig(self, *a, **kw)

        monkeypatch.setattr(VersionedTable, "read", counting)
        refresh_mv(src, mv, spark, **kw)
        assert reads["n"] == 0


class TestCombinedStoredFold:
    """r15 VERDICT #4: a view declaring BOTH min/max and approx-
    distinct families reads the stored MV snapshot ONCE per refresh
    and the source snapshot AT MOST once (the union of both families'
    endangered keys drives a single recompute) — the two-pass fold
    used to pay each read twice."""

    KW = dict(
        name="c", group_cols=["g"], sum_cols=["x"], key="k",
        min_cols=["x"], max_cols=["x"], approx_distinct_cols=["v"],
    )

    def _counting(self, monkeypatch, src, mv):
        reads = {"src": 0, "mv": 0}
        orig = VersionedTable.read

        def counting(self_t, *a, **kw):
            if self_t.path == src.path:
                reads["src"] += 1
            elif self_t.path == mv.path:
                reads["mv"] += 1
            return orig(self_t, *a, **kw)

        monkeypatch.setattr(VersionedTable, "read", counting)
        return reads

    def test_single_mv_read_and_single_source_read(
        self, spark, tmp_path, monkeypatch
    ):
        src = _mk_v(
            spark, tmp_path, [(1, "a", "x", 5), (2, "a", "y", 9)]
        )
        mv = _mv(tmp_path, "comb")
        refresh_mv(src, mv, spark, **self.KW)
        # a delete of the stored max endangers 'a' for BOTH families
        src.delete_where(spark, F.col("k") == 2)
        reads = self._counting(monkeypatch, src, mv)
        refresh_mv(src, mv, spark, **self.KW)
        # mv reads: one stored-state fold + the zero-group sweep's
        # auto-prune read path counts separately only if it calls read
        assert reads["mv"] <= 2, reads
        assert reads["src"] == 1, reads  # ONE union-key recompute
        row = {
            r["g"]: (r["x_min"], r["x_max"])
            for r in mv.read(spark).collect()
        }
        assert row["a"] == (5, 5)

    def test_append_only_still_never_reads_source(
        self, spark, tmp_path, monkeypatch
    ):
        src = _mk_v(
            spark, tmp_path, [(1, "a", "x", 5), (2, "b", "y", 9)]
        )
        mv = _mv(tmp_path, "comb2")
        refresh_mv(src, mv, spark, **self.KW)
        src.commit(
            spark.createDataFrame(
                [(3, "a", "z", 7)],
                "k long, g string, v string, x long",
            ),
            mode="append",
        )
        reads = self._counting(monkeypatch, src, mv)
        refresh_mv(src, mv, spark, **self.KW)
        assert reads["src"] == 0, reads
        assert reads["mv"] <= 2, reads
        row = {
            r["g"]: (r["x_min"], r["x_max"], r["n_rows"])
            for r in mv.read(spark).collect()
        }
        assert row["a"] == (5, 7, 2)


class TestPercentileHistograms:
    """r15 VERDICT #7: approx percentiles in the MV family via signed
    log-bucket histograms — fully self-maintainable under deletes
    (unlike MIN/MAX and HLL: no endangered recompute, no aux state).
    Invariants: the stored histogram equals a full rebuild from the
    source after any DML; hist_percentile estimates land within the
    declared relative error of exact percentile_disc."""

    KW = dict(
        name="p", group_cols=["g"], sum_cols=["x"], key="k",
        percentile_cols=["x"],
    )

    def _src(self, spark, tmp_path, n=3000, name="psrc"):
        t = VersionedTable(str(tmp_path / name))
        t.commit(
            spark.range(0, n).select(
                F.col("id").alias("k"),
                (F.col("id") % 3).cast("string").alias("g"),
                ((F.col("id") * 37) % 997 + 1).cast("long").alias("x"),
            ),
            mode="overwrite",
        )
        return t

    def _hist_rebuild(self, spark, src):
        """Ground truth: the histogram a bootstrap would build now."""
        from file_stream_import_spark.operators.mv import (
            _DEFAULT_PCT_ERR,
            _hist_base,
            _hist_map,
        )

        rows = _hist_map(
            src.read(spark), ["g"], "x",
            _hist_base(_DEFAULT_PCT_ERR), F.lit(1),
        ).collect()
        return {r["g"]: dict(r["x_hist"]) for r in rows}

    def _hist_state(self, spark, mv):
        return {
            r["g"]: dict(r["x_hist"])
            for r in mv.read(spark).collect()
        }

    def test_histogram_exact_through_dml(self, spark, tmp_path):
        src = self._src(spark, tmp_path)
        mv = _mv(tmp_path, "pmv")
        refresh_mv(src, mv, spark, **self.KW)
        assert self._hist_state(spark, mv) == self._hist_rebuild(
            spark, src
        )
        # delete-heavy + update waves: histograms fold deletes EXACTLY
        src.delete_where(spark, F.col("x") > 900)
        merge_into(
            src, spark,
            src.read(spark).filter(F.col("k") < 500).withColumn(
                "x", F.col("x") + 17
            ),
            key="k",
        )
        src.delete_where(spark, (F.col("g") == "1") & (F.col("k") % 2 == 0))
        refresh_mv(src, mv, spark, **self.KW)
        assert self._hist_state(spark, mv) == self._hist_rebuild(
            spark, src
        )

    def test_estimates_within_declared_error(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import hist_percentile

        src = self._src(spark, tmp_path)
        mv = _mv(tmp_path, "pmv2")
        refresh_mv(src, mv, spark, **self.KW)
        src.delete_where(spark, F.col("x").between(300, 600))
        refresh_mv(src, mv, spark, **self.KW)
        est = {
            r["g"]: (r["p50"], r["p95"])
            for r in mv.read(spark).select(
                "g",
                hist_percentile("x_hist", 0.5).alias("p50"),
                hist_percentile("x_hist", 0.95).alias("p95"),
            ).collect()
        }
        exact = {
            r["g"]: (r["e50"], r["e95"])
            for r in src.read(spark)
            .groupBy("g")
            .agg(
                F.expr("percentile_approx(x, 0.5, 100000)").alias("e50"),
                F.expr("percentile_approx(x, 0.95, 100000)").alias("e95"),
            )
            .collect()
        }
        for g, (p50, p95) in est.items():
            e50, e95 = exact[g]
            assert abs(p50 / e50 - 1) <= 0.0101, (g, p50, e50)
            assert abs(p95 / e95 - 1) <= 0.0101, (g, p95, e95)

    def test_negative_zero_and_null_values(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import hist_percentile

        t = VersionedTable(str(tmp_path / "nzsrc"))
        rows = [(i, "a", v) for i, v in enumerate(
            [-100.0, -1.0, 0.0, 0.0, 1.0, 100.0, None]
        )]
        t.commit(
            spark.createDataFrame(rows, "k long, g string, x double"),
            mode="overwrite",
        )
        mv = _mv(tmp_path, "nzmv")
        refresh_mv(t, mv, spark, **self.KW)
        r = mv.read(spark).select(
            hist_percentile("x_hist", 0.0).alias("lo"),
            hist_percentile("x_hist", 0.5).alias("mid"),
            hist_percentile("x_hist", 1.0).alias("hi"),
        ).first()
        assert abs(r["lo"] / -100.0 - 1) <= 0.0101
        assert r["mid"] == 0.0  # rank 3 of 6 non-null values
        assert abs(r["hi"] / 100.0 - 1) <= 0.0101

    def test_fractional_positive_domain(self, spark, tmp_path):
        """r16 regression (r15 VERDICT What's-wrong #1): 99 positive
        values in (0, 1) — the r15 sign-mirrored encoding returned
        p50 = −1.948 (wrong sign, wrong magnitude) because sub-1
        magnitudes got NEGATIVE bucket ids colliding with the negative
        mirror range. Every estimate must now be positive and within
        the declared relative error of the exact percentile_disc."""
        from file_stream_import_spark.operators.mv import hist_percentile

        vals = [i / 100.0 for i in range(1, 100)]  # 0.01 .. 0.99
        t = VersionedTable(str(tmp_path / "frsrc"))
        t.commit(
            spark.createDataFrame(
                [(i, "a", v) for i, v in enumerate(vals)],
                "k long, g string, x double",
            ),
            mode="overwrite",
        )
        mv = _mv(tmp_path, "frmv")
        refresh_mv(t, mv, spark, **self.KW)
        r = mv.read(spark).select(
            hist_percentile("x_hist", 0.5).alias("p50"),
            hist_percentile("x_hist", 0.9).alias("p90"),
        ).first()
        # exact percentile_disc at rank ceil(q*99): 0.50 and 0.90
        assert abs(r["p50"] / 0.50 - 1) <= 0.0101, r["p50"]
        assert abs(r["p90"] / 0.90 - 1) <= 0.0101, r["p90"]

    def test_mixed_sign_fractional_ordering(self, spark, tmp_path):
        """Mixed-sign fractional domain: bucket ids must order by VALUE
        across the full signed line (−2 < −0.5 < −0.01 < 0 < 0.01 <
        0.5 < 2), and estimates at the rank of each planted value must
        carry its sign and land within the relative error."""
        from file_stream_import_spark.operators.mv import (
            _DEFAULT_PCT_ERR,
            _hist_base,
            _hist_bucket,
            hist_percentile,
        )

        vals = [-2.0, -0.5, -0.01, 0.0, 0.01, 0.5, 2.0]
        base = _hist_base(_DEFAULT_PCT_ERR)
        ids = (
            spark.createDataFrame([(v,) for v in vals], "x double")
            .select(_hist_bucket("x", base).alias("b"), "x")
            .orderBy("x")
            .collect()
        )
        got = [r["b"] for r in ids]
        assert got == sorted(got), got  # id order == value order
        assert got[3] == 0 and got[2] < 0 < got[4], got  # sign-pure
        t = VersionedTable(str(tmp_path / "mssrc"))
        t.commit(
            spark.createDataFrame(
                [(i, "a", v) for i, v in enumerate(vals)],
                "k long, g string, x double",
            ),
            mode="overwrite",
        )
        mv = _mv(tmp_path, "msmv")
        refresh_mv(t, mv, spark, **self.KW)
        # rank i+1 of 7 -> q = (i+1)/7 targets exactly vals[i]
        sel = [
            hist_percentile("x_hist", (i + 1) / 7.0).alias(f"p{i}")
            for i in range(7)
        ]
        r = mv.read(spark).select(*sel).first()
        for i, v in enumerate(vals):
            got_v = r[f"p{i}"]
            if v == 0.0:
                assert got_v == 0.0, (i, got_v)
            else:
                assert abs(got_v / v - 1) <= 0.0101, (i, v, got_v)

    def test_group_vanishes_and_empty_hist(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import hist_percentile

        src = self._src(spark, tmp_path, n=300)
        mv = _mv(tmp_path, "pmv3")
        refresh_mv(src, mv, spark, **self.KW)
        src.delete_where(spark, F.col("g") == "2")
        refresh_mv(src, mv, spark, **self.KW)
        assert sorted(
            r["g"] for r in mv.read(spark).collect()
        ) == ["0", "1"]
        # estimator on an EMPTY histogram returns NULL, not an error
        empty = mv.read(spark).select(
            hist_percentile(F.expr("map()").cast("map<int,bigint>"), 0.5)
            .alias("p")
        ).first()
        assert empty["p"] is None

    def test_validation(self, spark, tmp_path):
        src = self._src(spark, tmp_path, n=30)
        mv = _mv(tmp_path, "pmv4")
        with pytest.raises(ValueError, match="group column"):
            refresh_mv(
                src, mv, spark, name="p", group_cols=["g"],
                sum_cols=["x"], key="k", percentile_cols=["g"],
            )
        with pytest.raises(ValueError, match="percentile_rel_err"):
            refresh_mv(
                src, mv, spark, name="p", group_cols=["g"],
                sum_cols=["x"], key="k", percentile_cols=["x"],
                percentile_rel_err=0.0,
            )

    @settings(
        max_examples=_FUZZ_EXAMPLES,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
            HealthCheck.data_too_large,
        ],
        derandomize=_FUZZ_DERANDOMIZE,
    )
    @given(
        init=_frac_rows_st,
        ops=st.lists(_frac_op_st, min_size=1, max_size=4),
    )
    def test_hist_mv_equals_rebuild_for_random_histories(
        self, spark, tmp_path_factory, init, ops
    ):
        """Signed histograms through random DML histories (incl.
        mid-history refreshes and rename cycles): the stored maps must
        equal a full rebuild EXACTLY — the self-maintainability claim,
        fuzzed. x double on a 0.01 grid in [-2, 2] (r16) draws sub-1
        magnitudes and mixed signs every run — the fractional domain
        the r15 encoding got wrong — alongside the negative/zero/
        positive mirror."""
        from file_stream_import_spark.operators.mv import (
            _DEFAULT_PCT_ERR,
            _hist_base,
            _hist_map,
        )

        base = tmp_path_factory.mktemp("hist_fuzz")
        src = VersionedTable(f"{base}/{_uuid.uuid4().hex}")
        src.commit(
            spark.createDataFrame(init, "k long, g string, x double"),
            mode="overwrite",
        )
        mv = VersionedTable(f"{base}/{_uuid.uuid4().hex}")
        kw = dict(
            name="hf", group_cols=["g"], sum_cols=["x"], key="k",
            percentile_cols=["x"],
        )
        refresh_mv(src, mv, spark, **kw)
        for op in ops:
            kind = op[0]
            if kind == "merge":
                merge_into(
                    src, spark,
                    spark.createDataFrame(
                        op[1], "k long, g string, x double"
                    ),
                    key="k",
                )
            elif kind == "delete":
                lo, hi = sorted((op[1], op[2]))
                src.delete_where(spark, F.col("k").between(lo, hi))
            elif kind == "append":
                have = {
                    r["k"]
                    for r in src.read(spark).select("k").collect()
                }
                fresh = [r for r in op[1] if r[0] not in have]
                if not fresh:
                    continue
                src.commit(
                    spark.createDataFrame(
                        fresh, "k long, g string, x double"
                    ),
                    mode="append",
                )
            elif kind == "rename_cycle":
                src.rename_column("x", "x_tmp")
                src.rename_column("x_tmp", "x")
            else:
                refresh_mv(src, mv, spark, **kw)
        refresh_mv(src, mv, spark, **kw)
        got = {
            r["g"]: dict(r["x_hist"])
            for r in mv.read(spark).collect()
        }
        want = {
            r["g"]: dict(r["x_hist"])
            for r in _hist_map(
                src.read(spark), ["g"], "x",
                _hist_base(_DEFAULT_PCT_ERR), F.lit(1),
            ).collect()
        }
        assert got == want, f"histogram diverged after {ops}"

    def test_streaming_maintainer_parity(self, spark, tmp_path):
        """The streaming maintainer folds the same histograms batch by
        batch — state equals a full rebuild after live DML crossing
        trigger boundaries."""
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        src = self._src(spark, tmp_path, n=600, name="spsrc")
        mv = _mv(tmp_path, "spmv")
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", src.path)
            .option("readchangedata", "true")
            .option("key", "k")
            .option("maxversionspertrigger", "1")
            .load()
            .writeStream.foreachBatch(
                make_mv_maintainer(
                    mv, "sp_q", group_cols=["g"], sum_cols=["x"],
                    percentile_cols=["x"],
                )
            )
            .option("checkpointLocation", str(tmp_path / "ck_sp"))
            .start()
        )
        try:
            q.processAllAvailable()
            assert self._hist_state(spark, mv) == self._hist_rebuild(
                spark, src
            )
            src.delete_where(spark, F.col("x") > 800)
            merge_into(
                src, spark,
                src.read(spark).filter(F.col("k") < 100).withColumn(
                    "x", F.col("x") * 2
                ),
                key="k",
            )
            q.processAllAvailable()
            assert self._hist_state(spark, mv) == self._hist_rebuild(
                spark, src
            )
        finally:
            q.stop()


class TestRewriteWithMv:
    """r15 VERDICT #5: MV query rewrite — a source-form GROUP BY whose
    grouping/measure set is subsumed by the MV is answered FROM the MV
    (zero source IO, plan-pinned); anything not subsumed returns None
    so the caller falls back to the source."""

    SPEC = dict(
        mv_group_cols=["g", "h"], sum_cols=["x"], min_cols=["x"],
        max_cols=["x"], sumsq_cols=["x"], distinct_cols=["v"],
        approx_distinct_cols=["v"], percentile_cols=["x"],
    )

    def _build(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import refresh_mv

        src = VersionedTable(str(tmp_path / "rwsrc"))
        src.commit(
            spark.range(0, 4000).select(
                F.col("id").alias("k"),
                (F.col("id") % 3).cast("string").alias("g"),
                (F.col("id") % 2).cast("string").alias("h"),
                ((F.col("id") * 13) % 101).cast("string").alias("v"),
                ((F.col("id") * 37) % 997 + 1).cast("long").alias("x"),
            ),
            mode="overwrite",
        )
        mv = _mv(tmp_path, "rwmv")
        kw = dict(
            name="rw", group_cols=["g", "h"], sum_cols=["x"], key="k",
            min_cols=["x"], max_cols=["x"], sumsq_cols=["x"],
            distinct_cols=["v"], approx_distinct_cols=["v"],
            percentile_cols=["x"],
        )
        refresh_mv(src, mv, spark, **kw)
        src.delete_where(spark, F.col("x") > 900)
        refresh_mv(src, mv, spark, **kw)
        return src, mv

    def test_exact_grouping_answers_without_source(
        self, spark, tmp_path, monkeypatch
    ):
        from file_stream_import_spark.operators.mv import rewrite_with_mv

        src, mv = self._build(spark, tmp_path)
        reads = {"src": 0}
        orig = VersionedTable.read

        def counting(self_t, *a, **kw):
            if self_t.path == src.path:
                reads["src"] += 1
            return orig(self_t, *a, **kw)

        monkeypatch.setattr(VersionedTable, "read", counting)
        out = rewrite_with_mv(
            mv, spark,
            group_cols=["g", "h"],
            measures={
                "n": ("count",),
                "sum_x": ("sum", "x"),
                "avg_x": ("avg", "x"),
                "min_x": ("min", "x"),
                "max_x": ("max", "x"),
                "var_x": ("var_pop", "x"),
                "nd_v": ("count_distinct", "v"),
                "p50_x": ("percentile", "x", 0.5),
            },
            **self.SPEC,
        )
        assert out is not None
        got = {
            (r["g"], r["h"]): r.asDict() for r in out.collect()
        }
        assert reads["src"] == 0, "rewrite scanned the source"
        monkeypatch.setattr(VersionedTable, "read", orig)
        want = {
            (r["g"], r["h"]): r.asDict()
            for r in src.read(spark)
            .groupBy("g", "h")
            .agg(
                F.count("*").alias("n"),
                F.sum("x").alias("sum_x"),
                F.avg("x").alias("avg_x"),
                F.min("x").alias("min_x"),
                F.max("x").alias("max_x"),
                F.var_pop("x").alias("var_x"),
                F.count_distinct("v").alias("nd_v"),
                F.expr("percentile_approx(x, 0.5, 100000)").alias(
                    "p50_x"
                ),
            )
            .collect()
        }
        assert set(got) == set(want)
        for k, w in want.items():
            r = got[k]
            assert r["n"] == w["n"] and r["sum_x"] == w["sum_x"]
            assert abs(r["avg_x"] - w["avg_x"]) < 1e-9
            assert r["min_x"] == w["min_x"] and r["max_x"] == w["max_x"]
            assert abs(r["var_x"] - w["var_x"]) < 1e-6 * max(
                1.0, abs(w["var_x"])
            )
            assert r["nd_v"] == w["nd_v"]
            assert abs(r["p50_x"] / w["p50_x"] - 1) <= 0.0101

    def test_subset_grouping_reaggregates(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import rewrite_with_mv

        src, mv = self._build(spark, tmp_path)
        out = rewrite_with_mv(
            mv, spark,
            group_cols=["g"],
            measures={
                "n": ("count",),
                "sum_x": ("sum", "x"),
                "avg_x": ("avg", "x"),
                "min_x": ("min", "x"),
                "max_x": ("max", "x"),
                "var_x": ("var_pop", "x"),
                "and_v": ("approx_count_distinct", "v"),
                "p50_x": ("percentile", "x", 0.5),
                "nd_v": ("count_distinct", "v"),
            },
            **self.SPEC,
        )
        assert out is not None
        got = {r["g"]: r.asDict() for r in out.collect()}
        want = {
            r["g"]: r.asDict()
            for r in src.read(spark)
            .groupBy("g")
            .agg(
                F.count("*").alias("n"),
                F.sum("x").alias("sum_x"),
                F.avg("x").alias("avg_x"),
                F.min("x").alias("min_x"),
                F.max("x").alias("max_x"),
                F.var_pop("x").alias("var_x"),
                F.count_distinct("v").alias("and_v"),
                F.expr("percentile_approx(x, 0.5, 100000)").alias(
                    "p50_x"
                ),
                F.count_distinct("v").alias("nd_v"),
            )
            .collect()
        }
        for k, w in want.items():
            r = got[k]
            assert r["n"] == w["n"] and r["sum_x"] == w["sum_x"]
            assert abs(r["avg_x"] - w["avg_x"]) < 1e-9
            assert r["min_x"] == w["min_x"] and r["max_x"] == w["max_x"]
            assert abs(r["var_x"] - w["var_x"]) < 1e-6 * max(
                1.0, abs(w["var_x"])
            )
            # HLL union estimate: within 5% of exact
            assert abs(r["and_v"] / w["and_v"] - 1) <= 0.05
            # merged-histogram percentile: within the declared 1%
            assert abs(r["p50_x"] / w["p50_x"] - 1) <= 0.0101
            # coarse EXACT distinct served from the aux support table
            assert r["nd_v"] == w["nd_v"]

    def test_not_subsumed_falls_back(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import rewrite_with_mv

        _, mv = self._build(spark, tmp_path)
        base = dict(self.SPEC)
        # grouping not a subset of the MV's
        assert rewrite_with_mv(
            mv, spark, group_cols=["k"],
            measures={"n": ("count",)}, **base,
        ) is None
        # a distinct column the MV does not maintain
        assert rewrite_with_mv(
            mv, spark, group_cols=["g"],
            measures={"nd": ("count_distinct", "x")}, **base,
        ) is None
        # a measure column the MV does not maintain
        assert rewrite_with_mv(
            mv, spark, group_cols=["g", "h"],
            measures={"s": ("sum", "v")}, **base,
        ) is None


class TestStreamingApproxDistinct:
    """r14 late: approx_distinct_cols in the streaming maintainer —
    sketch union per batch, delete-endangered groups re-sketch against
    the batch-pinned source snapshot."""

    def test_stream_matches_recompute_through_dml(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        src = _mk_v(
            spark, tmp_path,
            [(1, "a", "x", 1), (2, "a", "y", 2), (3, "b", "x", 3)],
        )
        src.delete_where(spark, F.col("k") == 2)  # v1: last 'y'
        src.commit(
            spark.createDataFrame(
                [(4, "b", "z", 4)],
                "k long, g string, v string, x long",
            ),
            mode="append",
        )                                           # v2
        spark.dataSource.register(TableChangefeedDataSource)
        mv = VersionedTable(str(tmp_path / "shll_mv"))
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", src.path)
            .option("readchangedata", "true")
            .option("key", "k")
            .option("maxversionspertrigger", "1")
            .load()
            .writeStream.foreachBatch(
                make_mv_maintainer(
                    mv, "shll_q", group_cols=["g"], sum_cols=["x"],
                    source=src, approx_distinct_cols=["v"],
                )
            )
            .option("checkpointLocation", str(tmp_path / "shll_ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(
            (r["g"], r["n_rows"], r["e"])
            for r in mv.read(spark)
            .select(
                "g", "n_rows",
                F.hll_sketch_estimate("v_hll").alias("e"),
            )
            .collect()
        )
        exp = sorted(
            (r["g"], r["n"], r["nd"])
            for r in src.read(spark)
            .groupBy("g")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.count_distinct("v").cast("bigint").alias("nd"),
            )
            .collect()
        )
        assert got == exp

    def test_requires_source(self, spark, tmp_path):
        mv = VersionedTable(str(tmp_path / "shll_ns"))
        with pytest.raises(ValueError, match="source"):
            make_mv_maintainer(
                mv, "q", group_cols=["g"], sum_cols=["x"],
                approx_distinct_cols=["v"],
            )


class TestDistinctConcurrentRefreshers:
    def test_racer_folding_past_cur_converges(
        self, spark, tmp_path, monkeypatch
    ):
        """Review r14: a racing refresher can fold the aux PAST this
        refresh's cur in ONE commit (no aux version at exactly cur
        exists). The slow refresher must still produce nd values that
        CONVERGE — reading the aux latest does (any lead belongs to
        windows whose owner recomputes those groups on retry); the
        removed walk-back landed BEFORE the slow refresher's own
        window and persisted stale counts."""
        src = _mk_v(
            spark, tmp_path, [(1, "a", "x", 1), (2, "b", "y", 2)]
        )
        mv = _mv(tmp_path, "race_nd")
        _refresh_nd(src, mv, spark)                      # wm = 0
        src.commit(
            spark.createDataFrame(
                [(3, "a", "z", 3)],
                "k long, g string, v string, x long",
            ),
            mode="append",
        )                                                # v1
        cur_slow = src.latest_version()                  # = 1
        src.delete_where(spark, F.col("k") == 3)         # v2: z leaves
        # the RACER folds the aux straight to v2 (one commit, 1..2)
        from file_stream_import_spark.operators.mv import _fold_aux

        _fold_aux(
            nd_aux_table(mv, "v"), src, spark,
            group_cols=["g"], col="v", key="k",
            tag="mv:nd", cur=src.latest_version(),
        )
        # the SLOW refresher still believes cur = 1
        orig = VersionedTable.latest_version

        def pinned(self):
            v = orig(self)
            if self.path == src.path and v is not None:
                return min(v, cur_slow)
            return v

        monkeypatch.setattr(VersionedTable, "latest_version", pinned)
        _refresh_nd(src, mv, spark)  # folds CDF 1..1 only
        monkeypatch.setattr(VersionedTable, "latest_version", orig)
        # the follow-up refresh (cur = 2) must converge everything
        _refresh_nd(src, mv, spark)
        assert _state_nd(spark, mv) == _recompute_nd(spark, src)


class TestMvSpec:
    """r16 (VERDICT #2): MV spec self-description — the refresh kwargs
    are RECORDED in _mv_spec.json at bootstrap; later refreshes
    validate against the record (a silent wrong re-statement becomes a
    loud error), rewrite_with_mv reads the record instead of trusting
    arguments, and the record pins the histogram bucket encoding."""

    KW = dict(
        name="sp", group_cols=["g"], sum_cols=["x"], key="k",
        min_cols=["x"],
    )

    def _src(self, spark, tmp_path, name="spsrc"):
        t = VersionedTable(str(tmp_path / name))
        t.commit(
            spark.range(0, 200).select(
                F.col("id").alias("k"),
                (F.col("id") % 3).cast("string").alias("g"),
                ((F.col("id") * 37) % 97 + 1).cast("long").alias("x"),
            ),
            mode="overwrite",
        )
        return t

    def test_bootstrap_records_and_refresh_validates(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.operators.mv import load_mv_spec

        src = self._src(spark, tmp_path)
        mv = _mv(tmp_path, "spmv")
        refresh_mv(src, mv, spark, **self.KW)
        rec = load_mv_spec(mv)
        assert rec["kind"] == "agg" and rec["group_cols"] == ["g"]
        assert rec["key"] == ["k"] and rec["min_cols"] == ["x"]
        # matching re-statement refreshes fine
        src.commit(
            spark.createDataFrame(
                [(1000, "a", 5)], "k long, g string, x long"
            ),
            mode="append",
        )
        refresh_mv(src, mv, spark, **self.KW)
        # a WRONG re-statement raises instead of folding garbage
        bad = dict(self.KW, sum_cols=[])
        with pytest.raises(ValueError, match="spec mismatch"):
            refresh_mv(src, mv, spark, **bad)
        # even a converged (no-delta) refresh validates
        bad2 = dict(self.KW, min_cols=[])
        with pytest.raises(ValueError, match="spec mismatch"):
            refresh_mv(src, mv, spark, **bad2)

    def test_rebootstrap_redefines_spec(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import load_mv_spec

        src = self._src(spark, tmp_path)
        mv = _mv(tmp_path, "spmv_rb")
        refresh_mv(src, mv, spark, **self.KW)
        # a DIFFERENT name has no watermark on this MV -> bootstrap
        # path -> overwrites data AND spec (the documented semantic)
        kw2 = dict(
            name="sp2", group_cols=["g"], sum_cols=["x"], key="k",
        )
        refresh_mv(src, mv, spark, **kw2)
        rec = load_mv_spec(mv)
        assert rec["name"] == "sp2" and rec["min_cols"] == []

    def test_pre_spec_mv_adopts_once(self, spark, tmp_path):
        import os

        from file_stream_import_spark.operators.mv import (
            _spec_path,
            load_mv_spec,
        )

        src = self._src(spark, tmp_path)
        mv = _mv(tmp_path, "spmv_ad")
        refresh_mv(src, mv, spark, **self.KW)
        os.unlink(_spec_path(mv))  # simulate a pre-r16 MV
        src.commit(
            spark.createDataFrame(
                [(1001, "b", 7)], "k long, g string, x long"
            ),
            mode="append",
        )
        refresh_mv(src, mv, spark, **self.KW)  # adopts
        assert load_mv_spec(mv)["name"] == "sp"

    def test_pre_spec_percentile_mv_must_rebootstrap(
        self, spark, tmp_path
    ):
        import os

        from file_stream_import_spark.operators.mv import _spec_path

        src = self._src(spark, tmp_path)
        mv = _mv(tmp_path, "spmv_pct")
        kw = dict(
            name="spp", group_cols=["g"], sum_cols=["x"], key="k",
            percentile_cols=["x"],
        )
        refresh_mv(src, mv, spark, **kw)
        os.unlink(_spec_path(mv))
        src.commit(
            spark.createDataFrame(
                [(1002, "c", 9)], "k long, g string, x long"
            ),
            mode="append",
        )
        with pytest.raises(ValueError, match="[Rr]e-bootstrap"):
            refresh_mv(src, mv, spark, **kw)

    def test_old_hist_encoding_rejected(self, spark, tmp_path):
        import json

        from file_stream_import_spark.operators.mv import (
            _spec_path,
            rewrite_with_mv,
        )

        src = self._src(spark, tmp_path)
        mv = _mv(tmp_path, "spmv_enc")
        kw = dict(
            name="spe", group_cols=["g"], sum_cols=["x"], key="k",
            percentile_cols=["x"],
        )
        refresh_mv(src, mv, spark, **kw)
        rec = json.load(open(_spec_path(mv)))
        rec["hist_encoding"] = 1  # r15 encoding
        with open(_spec_path(mv), "w") as f:
            json.dump(rec, f)
        src.commit(
            spark.createDataFrame(
                [(1003, "a", 3)], "k long, g string, x long"
            ),
            mode="append",
        )
        with pytest.raises(ValueError, match="encoding"):
            refresh_mv(src, mv, spark, **kw)
        with pytest.raises(ValueError, match="encoding"):
            rewrite_with_mv(
                mv, spark, group_cols=["g"],
                measures={"n": ("count",)},
            )

    def test_rewrite_reads_spec(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import (
            rewrite_with_mv,
        )

        src = self._src(spark, tmp_path)
        mv = _mv(tmp_path, "spmv_rw")
        refresh_mv(src, mv, spark, **self.KW)
        # no re-statement at all: the MV describes itself
        out = rewrite_with_mv(
            mv, spark, group_cols=["g"],
            measures={
                "n": ("count",),
                "sum_x": ("sum", "x"),
                "min_x": ("min", "x"),
            },
        )
        exp = sorted(
            (r["g"], r["n"], r["s"], r["m"])
            for r in src.read(spark).groupBy("g").agg(
                F.count("*").alias("n"),
                F.sum("x").alias("s"),
                F.min("x").alias("m"),
            ).collect()
        )
        got = sorted(
            (r["g"], r["n"], r["sum_x"], r["min_x"])
            for r in out.collect()
        )
        assert got == exp
        # an explicitly-passed field that CONTRADICTS the record
        # raises; one that matches passes
        with pytest.raises(ValueError, match="rewrite spec mismatch"):
            rewrite_with_mv(
                mv, spark, group_cols=["g"],
                measures={"n": ("count",)}, mv_group_cols=["g", "h"],
            )
        assert rewrite_with_mv(
            mv, spark, group_cols=["g"],
            measures={"n": ("count",)}, mv_group_cols=["g"],
        ) is not None

    def test_rewrite_without_spec_needs_restatement(
        self, spark, tmp_path
    ):
        import os

        from file_stream_import_spark.operators.mv import (
            _spec_path,
            rewrite_with_mv,
        )

        src = self._src(spark, tmp_path)
        mv = _mv(tmp_path, "spmv_leg")
        refresh_mv(src, mv, spark, **self.KW)
        os.unlink(_spec_path(mv))  # pre-spec MV
        with pytest.raises(ValueError, match="no recorded spec"):
            rewrite_with_mv(
                mv, spark, group_cols=["g"],
                measures={"n": ("count",)},
            )
        # the legacy full re-statement still works
        out = rewrite_with_mv(
            mv, spark, group_cols=["g"],
            measures={"n": ("count",)},
            mv_group_cols=["g"], sum_cols=["x"], min_cols=["x"],
        )
        assert out.count() == 3

    def test_join_mv_spec_validates(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import load_mv_spec

        a, b = _mk_join(spark, tmp_path)
        mv = _mv(tmp_path, "spmv_j")
        _refresh_j(a, b, mv, spark)
        rec = load_mv_spec(mv)
        assert rec["kind"] == "join" and rec["on"] == ["ck"]
        a.commit(
            spark.createDataFrame(
                [(9, 10, 4)], "k long, ck long, x long"
            ),
            mode="append",
        )
        with pytest.raises(ValueError, match="spec mismatch"):
            refresh_join_mv(
                a, b, mv, spark,
                name="j", on=["ck"], group_cols=["seg"],
                sum_cols=[], key_a="k", key_b="ck",
                percentile_cols=["x"],
            )
        _refresh_j(a, b, mv, spark)  # matching spec still refreshes
        assert _state_j(spark, mv) == _recompute_j(spark, a, b)

    def test_stream_maintainer_on_batch_mv_raises(
        self, spark, tmp_path
    ):
        """The two protocols keep independent watermarks — pointing a
        stream maintainer at a batch-refreshed MV would double-count;
        the spec's kind field turns that into a loud error on the
        first batch."""
        src = self._src(spark, tmp_path, name="spsrc_mix")
        mv = _mv(tmp_path, "spmv_mix")
        refresh_mv(src, mv, spark, **self.KW)
        write = make_mv_maintainer(
            mv, "mixq", group_cols=["g"], sum_cols=["x"],
        )
        batch = spark.createDataFrame(
            [(1, "a", 2, "insert", 1)],
            "k long, g string, x long, _change_type string, "
            "_commit_version long",
        )
        with pytest.raises(ValueError, match="spec mismatch"):
            write(batch, 0)

    def test_rewrite_over_join_mv_spec(self, spark, tmp_path):
        """The spec makes rewrite_with_mv work over a JOIN MV too:
        kind 'join' resolves sum/rows/percentile from the record
        (min/max/distinct default empty), so a coarser GROUP BY over
        the joined aggregate is answered from the MV — zero source IO
        on either join side."""
        from file_stream_import_spark.operators.mv import (
            hist_percentile,
            refresh_join_mv,
            rewrite_with_mv,
        )

        a, b = _mk_join(spark, tmp_path)
        mv = _mv(tmp_path, "spmv_jrw")
        refresh_join_mv(
            a, b, mv, spark,
            name="jrw", on=["ck"], group_cols=["seg"], sum_cols=["x"],
            key_a="k", key_b="ck", percentile_cols=["x"],
        )
        out = rewrite_with_mv(
            mv, spark, group_cols=["seg"],
            measures={
                "n": ("count",),
                "sum_x": ("sum", "x"),
                "p50_x": ("percentile", "x", 0.5),
            },
        )
        assert out is not None
        files = out.inputFiles()
        assert files and all(mv.path in f for f in files)
        got = {
            r["seg"]: (r["n"], r["sum_x"]) for r in out.collect()
        }
        want = {
            seg: (n, x) for seg, n, x in _recompute_j(spark, a, b)
        }
        assert got == want
        # a measure the join MV does not maintain falls back
        assert rewrite_with_mv(
            mv, spark, group_cols=["seg"],
            measures={"m": ("min", "x")},
        ) is None

    def test_rename_in_spec_follows_lockstep(self, spark, tmp_path):
        """Without the third lockstep step a post-rename refresh
        raises (spec mismatch names the field); with it, the new-name
        kwargs validate and the refresh converges."""
        from file_stream_import_spark.operators.mv import (
            load_mv_spec,
            rename_in_spec,
        )

        src = self._src(spark, tmp_path, name="spsrc_rn")
        mv = _mv(tmp_path, "spmv_rn")
        refresh_mv(src, mv, spark, **self.KW)
        src.rename_column("x", "y")
        mv.rename_column("x", "y")
        mv.rename_column("x_min", "y_min")
        src.commit(
            spark.createDataFrame(
                [(2000, "a", 8)], "k long, g string, y long"
            ),
            mode="append",
        )
        kw_new = dict(
            name="sp", group_cols=["g"], sum_cols=["y"], key="k",
            min_cols=["y"],
        )
        with pytest.raises(ValueError, match="rename_in_spec"):
            refresh_mv(src, mv, spark, **kw_new)
        rename_in_spec(mv, {"x": "y"})
        assert load_mv_spec(mv)["sum_cols"] == ["y"]
        refresh_mv(src, mv, spark, **kw_new)
        got = {
            r["g"]: (r["n_rows"], r["y"])
            for r in mv.read(spark).collect()
        }
        assert got["a"] == (1, 8)  # the post-rename append folded

    def test_rewrite_over_stream_maintained_mv(self, spark, tmp_path):
        """kind 'agg-stream' specs serve the rewrite too: a stream-
        maintained MV answers a subset GROUP BY with no re-statement."""
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )
        from file_stream_import_spark.operators.mv import rewrite_with_mv

        spark.dataSource.register(TableChangefeedDataSource)
        src = VersionedTable(str(tmp_path / "rwst_src"))
        src.commit(
            spark.range(0, 300).select(
                F.col("id").alias("k"),
                (F.col("id") % 3).cast("string").alias("g"),
                (F.col("id") % 2).cast("string").alias("h"),
                (F.col("id") % 50 + 1).alias("x"),
            ),
            mode="overwrite",
        )
        mv = VersionedTable(str(tmp_path / "rwst_mv"))
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", src.path)
            .option("readchangedata", "true")
            .option("key", "k")
            .load()
            .writeStream.foreachBatch(
                make_mv_maintainer(
                    mv, "rwst_q", group_cols=["g", "h"], sum_cols=["x"],
                )
            )
            .option("checkpointLocation", str(tmp_path / "ck_rwst"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = rewrite_with_mv(
            mv, spark, group_cols=["g"],
            measures={"n": ("count",), "sum_x": ("sum", "x")},
        )
        assert out is not None
        got = {r["g"]: (r["n"], r["sum_x"]) for r in out.collect()}
        want = {
            r["g"]: (r["n"], r["s"])
            for r in src.read(spark).groupBy("g").agg(
                F.count("*").alias("n"), F.sum("x").alias("s")
            ).collect()
        }
        assert got == want


class TestHistEncodingExtremes:
    """r16: the offset encoding's whole-double-range claim, pinned at
    the edges — denormals near 4.9e-324, magnitudes near 1.8e308, and
    the int32-overflow guard on absurd rel_err."""

    def test_bucket_ids_ordered_at_double_extremes(self, spark):
        from file_stream_import_spark.operators.mv import (
            _DEFAULT_PCT_ERR,
            _hist_base,
            _hist_bucket,
            _hist_offset,
        )

        base = _hist_base(_DEFAULT_PCT_ERR)
        off = _hist_offset(base)
        vals = [
            -1.7e308, -1.0, -2.3e-308, -4.9e-324, 0.0,
            4.9e-324, 2.3e-308, 1.0, 1.7e308,
        ]
        rows = (
            spark.createDataFrame([(v,) for v in vals], "x double")
            .select("x", _hist_bucket("x", base).alias("b"))
            .orderBy("x")
            .collect()
        )
        ids = [r["b"] for r in rows]
        assert ids == sorted(ids), ids            # total order by value
        assert ids[4] == 0                        # zero bucket
        assert all(i < 0 for i in ids[:4])        # negatives sign-pure
        assert all(i > 0 for i in ids[5:])        # positives sign-pure
        # every id fits int32 with room (the guard's invariant)
        assert max(abs(i) for i in ids) < 2**31 - 1
        # the deepest denormal's magnitude stays under the offset
        assert abs(ids[5]) >= 1 and abs(ids[5]) <= 2 * off

    def test_estimates_at_extremes_within_error(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import (
            hist_percentile,
            refresh_mv,
        )

        vals = [1e-300, 1e-10, 1.0, 1e10, 1e300]
        t = VersionedTable(str(tmp_path / "exsrc"))
        t.commit(
            spark.createDataFrame(
                [(i, "a", v) for i, v in enumerate(vals)],
                "k long, g string, x double",
            ),
            mode="overwrite",
        )
        mv = _mv(tmp_path, "exmv")
        refresh_mv(
            t, mv, spark,
            name="ex", group_cols=["g"], sum_cols=[], key="k",
            percentile_cols=["x"],
        )
        sel = [
            hist_percentile("x_hist", (i + 1) / 5.0).alias(f"p{i}")
            for i in range(5)
        ]
        r = mv.read(spark).select(*sel).first()
        for i, v in enumerate(vals):
            assert abs(r[f"p{i}"] / v - 1) <= 0.0101, (i, v, r[f"p{i}"])

    def test_absurd_rel_err_rejected(self):
        import pytest as _pt

        from file_stream_import_spark.operators.mv import (
            _hist_base,
            _hist_offset,
        )

        with _pt.raises(ValueError, match="int32"):
            _hist_offset(_hist_base(1e-8))
        # the supported floor still works
        assert _hist_offset(_hist_base(1e-6)) > 0


class TestFilteredMv:
    """r16: FILTERED (partial) MVs — refresh_mv(source_where=...)
    maintains the aggregate over a predicate-restricted universe.
    The hard case is an UPDATE that moves a row ACROSS the filter
    boundary: the pre/post images filter independently, so it nets to
    a pure view-row delete (or insert)."""

    KW = dict(
        name="fv", group_cols=["g"], sum_cols=["x"], key="k",
        min_cols=["x"], distinct_cols=["v"], percentile_cols=["x"],
        source_where="flag = 1",
    )

    def _src(self, spark, tmp_path, name="fvsrc"):
        t = VersionedTable(str(tmp_path / name))
        t.commit(
            spark.range(0, 600).select(
                F.col("id").alias("k"),
                (F.col("id") % 3).cast("string").alias("g"),
                (F.col("id") % 2).cast("int").alias("flag"),
                ((F.col("id") * 13) % 31).cast("string").alias("v"),
                ((F.col("id") * 37) % 499 + 1).cast("long").alias("x"),
            ),
            mode="overwrite",
        )
        return t

    def _recompute(self, spark, src):
        rows = (
            src.read(spark)
            .filter("flag = 1")
            .groupBy("g")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.coalesce(F.sum("x"), F.lit(0))
                .cast("bigint").alias("s"),
                F.min("x").alias("mn"),
                F.count_distinct("v").cast("bigint").alias("nd"),
            )
            .collect()
        )
        return sorted((r["g"], r["n"], r["s"], r["mn"], r["nd"])
                      for r in rows)

    def _state(self, spark, mv):
        return sorted(
            (r["g"], r["n_rows"], r["x"], r["x_min"], r["v_nd"])
            for r in mv.read(spark).collect()
        )

    def test_filtered_mv_through_boundary_crossing_dml(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.operators.mv import load_mv_spec

        src = self._src(spark, tmp_path)
        mv = _mv(tmp_path, "fvmv")
        refresh_mv(src, mv, spark, **self.KW)
        assert self._state(spark, mv) == self._recompute(spark, src)
        assert load_mv_spec(mv)["source_where"] == "flag = 1"
        # wave 1: flip rows INTO the view (flag 0 -> 1) and OUT of it
        # (flag 1 -> 0), plus an in-view value update — all via MERGE,
        # so the CDF carries pre/post image pairs across the boundary
        merge_into(
            src, spark,
            src.read(spark).filter(F.col("k") < 60).withColumn(
                "flag", F.lit(1) - F.col("flag")
            ),
            key="k",
        )
        merge_into(
            src, spark,
            src.read(spark)
            .filter((F.col("k") >= 100) & (F.col("k") < 130))
            .withColumn("x", F.col("x") + 1000),
            key="k",
        )
        refresh_mv(src, mv, spark, **self.KW)
        assert self._state(spark, mv) == self._recompute(spark, src)
        # wave 2: delete the view's min-extreme rows (endangered
        # recompute must read the FILTERED source) + an append of
        # mixed in/out rows
        src.delete_where(spark, (F.col("flag") == 1) & (F.col("x") < 50))
        src.commit(
            spark.createDataFrame(
                [(9000, "a", 1, "zz", 7), (9001, "a", 0, "zz", 3)],
                "k long, g string, flag int, v string, x long",
            ),
            mode="append",
        )
        refresh_mv(src, mv, spark, **self.KW)
        assert self._state(spark, mv) == self._recompute(spark, src)
        # percentile histogram equals a filtered rebuild
        from file_stream_import_spark.operators.mv import (
            _DEFAULT_PCT_ERR,
            _hist_base,
            _hist_map,
        )

        got = {
            r["g"]: dict(r["x_hist"])
            for r in mv.read(spark).collect()
        }
        want = {
            r["g"]: dict(r["x_hist"])
            for r in _hist_map(
                src.read(spark).filter("flag = 1"), ["g"], "x",
                _hist_base(_DEFAULT_PCT_ERR), F.lit(1),
            ).collect()
        }
        assert got == want

    def test_predicate_rides_spec(self, spark, tmp_path):
        src = self._src(spark, tmp_path, name="fvsrc2")
        mv = _mv(tmp_path, "fvmv2")
        refresh_mv(src, mv, spark, **self.KW)
        src.commit(
            spark.createDataFrame(
                [(9100, "b", 1, "q", 5)],
                "k long, g string, flag int, v string, x long",
            ),
            mode="append",
        )
        # a different predicate (or dropping it) is a spec mismatch
        with pytest.raises(ValueError, match="spec mismatch"):
            refresh_mv(
                src, mv, spark, **{**self.KW, "source_where": "flag = 0"}
            )
        with pytest.raises(ValueError, match="spec mismatch"):
            refresh_mv(
                src, mv, spark, **{**self.KW, "source_where": None}
            )

    def test_rename_with_predicate_refuses(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import rename_in_spec

        src = self._src(spark, tmp_path, name="fvsrc3")
        mv = _mv(tmp_path, "fvmv3")
        refresh_mv(src, mv, spark, **self.KW)
        with pytest.raises(ValueError, match="source_where"):
            rename_in_spec(mv, {"flag": "live"})

    def test_streaming_maintainer_filtered_parity(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        src = self._src(spark, tmp_path, name="fvsrc4")
        mv = _mv(tmp_path, "fvmv4")
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", src.path)
            .option("readchangedata", "true")
            .option("key", "k")
            .option("maxversionspertrigger", "1")
            .load()
            .writeStream.foreachBatch(
                make_mv_maintainer(
                    mv, "fv_q", group_cols=["g"], sum_cols=["x"],
                    source_where="flag = 1",
                )
            )
            .option("checkpointLocation", str(tmp_path / "ck_fv"))
            .start()
        )
        try:
            q.processAllAvailable()
            merge_into(
                src, spark,
                src.read(spark).filter(F.col("k") < 40).withColumn(
                    "flag", F.lit(1) - F.col("flag")
                ),
                key="k",
            )
            q.processAllAvailable()
            got = sorted(
                (r["g"], r["n_rows"], r["x"])
                for r in mv.read(spark).collect()
            )
            want = sorted(
                (r["g"], r["n"], r["s"])
                for r in src.read(spark).filter("flag = 1")
                .groupBy("g")
                .agg(
                    F.count("*").cast("bigint").alias("n"),
                    F.sum("x").cast("bigint").alias("s"),
                )
                .collect()
            )
            assert got == want
        finally:
            q.stop()


class TestFilteredJoinMv:
    """r16: source_where on refresh_join_mv — the predicate is over
    the JOINED row (either side's columns) and commutes with the
    signed delta-join decomposition, so each leg filters its joined
    delta rows independently."""

    KW = dict(
        name="fj", on=["ck"], group_cols=["seg"], sum_cols=["x"],
        key_a="k", key_b="ck", percentile_cols=["x"],
        source_where="x >= 100 AND seg != 'scrap'",
    )

    def _srcs(self, spark, tmp_path):
        a = VersionedTable(str(tmp_path / "fja"))
        a.commit(
            spark.range(0, 400).select(
                F.col("id").alias("k"),
                (F.col("id") % 20).alias("ck"),
                ((F.col("id") * 7) % 331).cast("long").alias("x"),
            ),
            mode="overwrite",
        )
        b = VersionedTable(str(tmp_path / "fjb"))
        b.commit(
            spark.range(0, 20).select(
                F.col("id").alias("ck"),
                F.when(F.col("id") % 5 == 0, F.lit("scrap"))
                .when(F.col("id") % 2 == 0, F.lit("gold"))
                .otherwise(F.lit("iron")).alias("seg"),
            ),
            mode="overwrite",
        )
        return a, b

    def _recompute(self, spark, a, b):
        return sorted(
            (r["seg"], r["n"], r["s"])
            for r in a.read(spark)
            .join(b.read(spark), on="ck")
            .filter("x >= 100 AND seg != 'scrap'")
            .groupBy("seg")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.coalesce(F.sum("x"), F.lit(0))
                .cast("bigint").alias("s"),
            )
            .collect()
        )

    def _state(self, spark, mv):
        return sorted(
            (r["seg"], r["n_rows"], r["x"])
            for r in mv.read(spark).collect()
        )

    def test_filtered_join_mv_through_dml(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import (
            _DEFAULT_PCT_ERR,
            _hist_base,
            _hist_map,
            load_mv_spec,
        )

        a, b = self._srcs(spark, tmp_path)
        mv = _mv(tmp_path, "fjmv")
        refresh_join_mv(a, b, mv, spark, **self.KW)
        assert self._state(spark, mv) == self._recompute(spark, a, b)
        assert (
            load_mv_spec(mv)["source_where"]
            == "x >= 100 AND seg != 'scrap'"
        )
        # wave 1 (left delta): x updates crossing the filter boundary
        # in both directions + an append straddling it
        merge_into(
            a, spark,
            a.read(spark).filter(F.col("k") < 80).withColumn(
                "x",
                F.when(F.col("x") < 100, F.col("x") + 150)
                .otherwise(F.col("x") - 90),
            ),
            key="k",
        )
        a.commit(
            spark.createDataFrame(
                [(9000, 2, 99), (9001, 2, 5000)], "k long, ck long, x long"
            ),
            mode="append",
        )
        refresh_join_mv(a, b, mv, spark, **self.KW)
        assert self._state(spark, mv) == self._recompute(spark, a, b)
        # wave 2 (right delta): a segment move INTO the excluded
        # 'scrap' segment (every joined row leaves the view) and one
        # out of it
        merge_into(
            b, spark,
            spark.createDataFrame(
                [(2, "scrap"), (5, "gold")], "ck long, seg string"
            ),
            key="ck",
        )
        refresh_join_mv(a, b, mv, spark, **self.KW)
        assert self._state(spark, mv) == self._recompute(spark, a, b)
        # wave 3 (both deltas in one refresh) + left deletes
        a.delete_where(spark, F.col("x") > 4000)
        merge_into(
            b, spark,
            spark.createDataFrame([(7, "gold")], "ck long, seg string"),
            key="ck",
        )
        refresh_join_mv(a, b, mv, spark, **self.KW)
        assert self._state(spark, mv) == self._recompute(spark, a, b)
        # the histogram equals a bootstrap's from the filtered join
        got = {
            r["seg"]: dict(r["x_hist"])
            for r in mv.read(spark).collect()
        }
        want = {
            r["seg"]: dict(r["x_hist"])
            for r in _hist_map(
                a.read(spark).join(b.read(spark), on="ck")
                .filter("x >= 100 AND seg != 'scrap'"),
                ["seg"], "x", _hist_base(_DEFAULT_PCT_ERR), F.lit(1),
            ).collect()
        }
        assert got == want

    def test_join_predicate_change_is_spec_mismatch(
        self, spark, tmp_path
    ):
        a, b = self._srcs(spark, tmp_path)
        mv = _mv(tmp_path, "fjmv2")
        refresh_join_mv(a, b, mv, spark, **self.KW)
        a.commit(
            spark.createDataFrame(
                [(9100, 3, 500)], "k long, ck long, x long"
            ),
            mode="append",
        )
        kw = dict(self.KW, source_where="x >= 200")
        with pytest.raises(ValueError, match="source_where"):
            refresh_join_mv(a, b, mv, spark, **kw)


class TestRewriteWhere:
    """r16: predicate subsumption in rewrite_with_mv — the query's
    WHERE is matched conjunct-by-conjunct against the view's recorded
    source_where; residual conjuncts must be group-column-only and
    apply to MV rows (and the aux table for coarse exact distinct)."""

    def _build(self, spark, tmp_path, source_where=None):
        src = VersionedTable(str(tmp_path / f"rws_{bool(source_where)}"))
        src.commit(
            spark.range(0, 900).select(
                F.col("id").alias("k"),
                (F.col("id") % 4).cast("string").alias("g"),
                (F.col("id") % 3).cast("string").alias("h"),
                ((F.col("id") * 11) % 47).cast("string").alias("v"),
                ((F.col("id") * 13) % 977).cast("long").alias("x"),
            ),
            mode="overwrite",
        )
        mv = VersionedTable(str(tmp_path / f"rwm_{bool(source_where)}"))
        refresh_mv(
            src, mv, spark,
            name="rww", group_cols=["g", "h"], sum_cols=["x"],
            key="k", min_cols=["x"], distinct_cols=["v"],
            source_where=source_where,
        )
        return src, mv

    def test_where_matches_view_predicate(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import rewrite_with_mv

        src, mv = self._build(spark, tmp_path, source_where="x >= 500")
        # spacing/keyword-case insensitive via the parser's
        # normalization (identifier case is NOT normalized — a
        # mismatch falls back conservatively)
        out = rewrite_with_mv(
            mv, spark, group_cols=["g", "h"],
            measures={"n": ("count",), "s": ("sum", "x")},
            where="x   >=    500",
        )
        assert out is not None
        assert all(mv.path in f for f in out.inputFiles())
        got = sorted((r["g"], r["h"], r["n"], r["s"])
                     for r in out.collect())
        want = sorted(
            (r["g"], r["h"], r["n"], r["s"])
            for r in src.read(spark).filter("x >= 500")
            .groupBy("g", "h")
            .agg(
                F.count("*").alias("n"),
                F.sum("x").cast("bigint").alias("s"),
            )
            .collect()
        )
        assert got == want

    def test_residual_group_conjunct_applies_to_mv_rows(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.operators.mv import rewrite_with_mv

        src, mv = self._build(spark, tmp_path, source_where="x >= 500")
        # query = view predicate AND a group-column residual, coarser
        # grouping; exact count_distinct rides the aux table and must
        # see the SAME residual
        out = rewrite_with_mv(
            mv, spark, group_cols=["g"],
            measures={
                "n": ("count",),
                "s": ("sum", "x"),
                "nd": ("count_distinct", "v"),
            },
            where="h <> '2' AND x >= 500",
        )
        assert out is not None
        assert all(
            mv.path in f or (mv.path + "_nd") in f
            for f in out.inputFiles()
        )
        got = sorted((r["g"], r["n"], r["s"], r["nd"])
                     for r in out.collect())
        want = sorted(
            (r["g"], r["n"], r["s"], r["nd"])
            for r in src.read(spark)
            .filter("x >= 500 AND h <> '2'")
            .groupBy("g")
            .agg(
                F.count("*").alias("n"),
                F.sum("x").cast("bigint").alias("s"),
                F.count_distinct("v").cast("bigint").alias("nd"),
            )
            .collect()
        )
        assert got == want

    def test_residual_on_unfiltered_mv(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import rewrite_with_mv

        src, mv = self._build(spark, tmp_path)
        out = rewrite_with_mv(
            mv, spark, group_cols=["g"],
            measures={"n": ("count",)},
            where="h = '1'",
        )
        assert out is not None
        got = sorted((r["g"], r["n"]) for r in out.collect())
        want = sorted(
            (r["g"], r["n"])
            for r in src.read(spark).filter("h = '1'")
            .groupBy("g").agg(F.count("*").alias("n")).collect()
        )
        assert got == want

    def test_not_subsumed_shapes_return_none(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import rewrite_with_mv

        _, mv = self._build(spark, tmp_path, source_where="x >= 500")
        m = {"n": ("count",)}
        # unfiltered query over a filtered view: rows are missing
        assert rewrite_with_mv(
            mv, spark, group_cols=["g", "h"], measures=m,
        ) is None
        # query does not carry the view's conjunct
        assert rewrite_with_mv(
            mv, spark, group_cols=["g", "h"], measures=m,
            where="h = '1'",
        ) is None
        # logically implied but not syntactically equal: conservative
        assert rewrite_with_mv(
            mv, spark, group_cols=["g", "h"], measures=m,
            where="x >= 600",
        ) is None
        # residual references a row-level measure column
        assert rewrite_with_mv(
            mv, spark, group_cols=["g", "h"], measures=m,
            where="x >= 500 AND v = 'q'",
        ) is None

    def test_garbage_where_raises(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import rewrite_with_mv

        _, mv = self._build(spark, tmp_path)
        with pytest.raises(ValueError, match="unparseable"):
            rewrite_with_mv(
                mv, spark, group_cols=["g"],
                measures={"n": ("count",)},
                where="x >= AND 3",
            )
