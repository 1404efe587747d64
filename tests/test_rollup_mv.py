"""Cascaded rollup MVs (r16, operators/mv.py::refresh_rollup_mv): a
coarse aggregate MV maintained O(delta) from a FINE aggregate MV's CDF,
everything derived from the fine MV's recorded spec. The invariant every
test drives: after refreshing the ladder, every level equals a FULL
recompute from the BASE table — sums and weighted row counts exactly,
min/max exactly (endangered recompute against the fine MV), percentile
histograms byte-identical to a rebuild from base values (signed map
merge), and HLL unions within sketch error of the base distinct count.

Also covers the snapshot_diff fix the rollup flushed out: a CDF over any
table holding a MAP column used to fail analysis (`<=>` rejects structs
containing maps); the diff now compares a canonicalized twin (key-sorted
entry arrays)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    VersionedTable,
    merge_into,
    snapshot_diff,
)
from file_stream_import_spark.operators.mv import (
    hist_percentile,
    load_mv_spec,
    refresh_mv,
    refresh_rollup_mv,
)


def _rows(lo, hi):
    # (k, d, site, x, uid): x mixed-sign fractional (the r15 bug's
    # domain), uid a small bigint for distinct counting
    return [
        (k, k % 5, f"s{k % 3}", ((k * 37) % 199 - 99) / 100.0,
         (k * 13) % 37)
        for k in range(lo, hi)
    ]


_SCHEMA = "k int, d int, site string, x double, uid bigint"

_FINE_KW = dict(
    name="fine", group_cols=["d", "site"], sum_cols=[], key="k",
    min_cols=["x"], max_cols=["x"], sumsq_cols=["x"],
    approx_distinct_cols=["uid"], percentile_cols=["x"],
)


def _mk(spark, tmp_path, rows, name):
    t = VersionedTable(str(tmp_path / name))
    t.commit(spark.createDataFrame(rows, _SCHEMA), mode="overwrite")
    return t


def _base_agg(spark, base, group_cols):
    return {
        tuple(r[g] for g in group_cols): r.asDict()
        for r in base.read(spark)
        .groupBy(*group_cols)
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.coalesce(
                F.sum(F.col("x") * F.col("x")), F.lit(0.0)
            ).alias("x_sumsq"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.count_distinct("uid").cast("bigint").alias("nd"),
        )
        .collect()
    }


def _check_level(spark, base, mv, group_cols, *, hll_tol=0.15):
    """The MV's stored state equals a full recompute from BASE."""
    exp = _base_agg(spark, base, group_cols)
    got = {
        tuple(r[g] for g in group_cols): r.asDict()
        for r in mv.read(spark)
        .withColumn("__est", F.hll_sketch_estimate("uid_hll"))
        .withColumn("__p50", hist_percentile("x_hist", 0.5))
        .withColumn("__p90", hist_percentile("x_hist", 0.9))
        .collect()
    }
    assert set(got) == set(exp)
    # exact rank percentiles from base (the estimator's own target)
    w = Window.partitionBy(*group_cols).orderBy("x")
    cnt = Window.partitionBy(*group_cols)
    exact = {
        0.5: {}, 0.9: {},
    }
    ranked = (
        base.read(spark)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count("*").over(cnt))
    )
    for q in (0.5, 0.9):
        for r in ranked.filter(
            F.col("rn") == F.ceil(F.lit(q) * F.col("cnt")).cast("bigint")
        ).collect():
            exact[q][tuple(r[g] for g in group_cols)] = r["x"]
    for key, e in exp.items():
        g = got[key]
        assert g["n_rows"] == e["n_rows"], (key, g, e)
        assert abs(g["x_sumsq"] - e["x_sumsq"]) < 1e-9, key
        assert g["x_min"] == e["x_min"], key
        assert g["x_max"] == e["x_max"], key
        assert abs(g["__est"] / e["nd"] - 1) <= hll_tol, (
            key, g["__est"], e["nd"],
        )
        for q, col in ((0.5, "__p50"), (0.9, "__p90")):
            want = exact[q][key]
            got_q = g[col]
            if want == 0:
                assert got_q == 0.0, (key, q, got_q)
            else:
                assert got_q is not None and (
                    abs(got_q / want - 1) <= 0.0101
                ), (key, q, got_q, want)


def _ladder(spark, tmp_path):
    base = _mk(spark, tmp_path, _rows(1, 301), "base")
    fine = VersionedTable(str(tmp_path / "fine"))
    coarse = VersionedTable(str(tmp_path / "coarse"))
    return base, fine, coarse


def _refresh_ladder(spark, base, fine, coarse):
    refresh_mv(base, fine, spark, **_FINE_KW)
    refresh_rollup_mv(fine, coarse, spark, name="coarse",
                      group_cols=["site"])


class TestRollupMV:
    def test_bootstrap_equals_base_aggregate(self, spark, tmp_path):
        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        _check_level(spark, base, coarse, ["site"])
        spec = load_mv_spec(coarse)
        assert spec["kind"] == "rollup"
        assert spec["source_name"] == "fine"
        assert spec["key"] == ["d", "site"]

    def test_incremental_waves_equal_base(self, spark, tmp_path):
        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        # append wave
        base.commit(
            spark.createDataFrame(_rows(301, 421), _SCHEMA),
            mode="append",
        )
        _refresh_ladder(spark, base, fine, coarse)
        _check_level(spark, base, coarse, ["site"])
        # delete wave endangering coarse minima (most-negative x)
        base.delete_where(spark, F.col("x") <= -0.80,
                          prune_where="auto")
        _refresh_ladder(spark, base, fine, coarse)
        _check_level(spark, base, coarse, ["site"])
        # merge wave: move rows between d groups AND sites
        upd = (
            base.read(spark)
            .filter(F.col("k") % 11 == 0)
            .withColumn("site", F.lit("s0"))
            .withColumn("x", F.col("x") + 0.03)
        )
        merge_into(base, spark, upd, key="k")
        _refresh_ladder(spark, base, fine, coarse)
        _check_level(spark, base, coarse, ["site"])

    def test_vanishing_coarse_group_swept(self, spark, tmp_path):
        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        base.delete_where(spark, F.col("site") == "s2",
                          prune_where="auto")
        _refresh_ladder(spark, base, fine, coarse)
        sites = {r["site"] for r in coarse.read(spark).collect()}
        assert sites == {"s0", "s1"}
        _check_level(spark, base, coarse, ["site"])

    def test_hist_byte_equal_to_base_rebuild(self, spark, tmp_path):
        """Deterministic bucketing makes the MERGED coarse histogram
        identical (as a dict) to one built directly from base values —
        deletes are forgotten exactly, nothing drifts through the
        ladder."""
        from file_stream_import_spark.operators.mv import (
            _hist_base,
            _hist_map,
        )

        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        base.delete_where(spark, F.col("x").between(-0.3, 0.25),
                          prune_where="auto")
        _refresh_ladder(spark, base, fine, coarse)
        stored = {
            r["site"]: dict(r["x_hist"])
            for r in coarse.read(spark).collect()
        }
        rebuilt = {
            r["site"]: dict(r["x_hist"])
            for r in _hist_map(
                base.read(spark), ["site"], "x",
                _hist_base(0.01), F.lit(1),
            ).collect()
        }
        assert stored == rebuilt

    def test_three_level_cascade(self, spark, tmp_path):
        """rollup-of-rollup: the rollup's spec is measure-shaped like
        an agg spec, so a third level derives identically — and still
        equals the base recompute after DML at the bottom."""
        base = _mk(spark, tmp_path, _rows(1, 301), "base")
        fine = VersionedTable(str(tmp_path / "fine"))
        mid = VersionedTable(str(tmp_path / "mid"))
        top = VersionedTable(str(tmp_path / "top"))

        def refresh_all():
            refresh_mv(base, fine, spark, **_FINE_KW)
            refresh_rollup_mv(fine, mid, spark, name="mid",
                              group_cols=["site"])
            refresh_rollup_mv(mid, top, spark, name="top",
                              group_cols=["site"])

        # mid coarsens (d, site) -> (site); top re-groups on the same
        # key — a degenerate but legal subset that must stay exact
        refresh_all()
        base.commit(
            spark.createDataFrame(_rows(301, 361), _SCHEMA),
            mode="append",
        )
        base.delete_where(spark, F.col("k") % 7 == 0,
                          prune_where="auto")
        refresh_all()
        _check_level(spark, base, mid, ["site"])
        _check_level(spark, base, top, ["site"])
        assert load_mv_spec(top)["source_name"] == "mid"

    def test_exact_distinct_refused(self, spark, tmp_path):
        base = _mk(spark, tmp_path, _rows(1, 61), "base")
        fine = VersionedTable(str(tmp_path / "fine"))
        coarse = VersionedTable(str(tmp_path / "coarse"))
        refresh_mv(
            base, fine, spark,
            name="fine", group_cols=["d", "site"], sum_cols=[],
            key="k", distinct_cols=["uid"],
        )
        with pytest.raises(ValueError, match="does not roll up"):
            refresh_rollup_mv(fine, coarse, spark, name="c",
                              group_cols=["site"])

    def test_group_not_subset_refused(self, spark, tmp_path):
        base, fine, coarse = _ladder(spark, tmp_path)
        refresh_mv(base, fine, spark, **_FINE_KW)
        with pytest.raises(ValueError, match="not fine-MV group"):
            refresh_rollup_mv(fine, coarse, spark, name="c",
                              group_cols=["uid"])
        with pytest.raises(ValueError, match="at least one group"):
            refresh_rollup_mv(fine, coarse, spark, name="c",
                              group_cols=[])

    def test_unspecced_fine_refused(self, spark, tmp_path):
        base, fine, coarse = _ladder(spark, tmp_path)
        refresh_mv(base, fine, spark, **_FINE_KW)
        os.remove(str(tmp_path / "fine" / "_mv_spec.json"))
        with pytest.raises(ValueError, match="no recorded spec"):
            refresh_rollup_mv(fine, coarse, spark, name="c",
                              group_cols=["site"])

    def test_fine_spec_drift_raises(self, spark, tmp_path):
        """A re-bootstrapped fine MV with different measures must not
        fold silently into an existing rollup."""
        import shutil

        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        # re-bootstrap the fine MV WITHOUT min/max
        shutil.rmtree(str(tmp_path / "fine"))
        kw = dict(_FINE_KW, min_cols=[], max_cols=[])
        refresh_mv(base, fine, spark, **kw)
        with pytest.raises(ValueError, match="spec mismatch"):
            refresh_rollup_mv(fine, coarse, spark, name="coarse",
                              group_cols=["site"])

    def test_converged_replay_is_noop(self, spark, tmp_path):
        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        v1 = coarse.latest_version()
        wm = refresh_rollup_mv(fine, coarse, spark, name="coarse",
                               group_cols=["site"])
        assert wm == fine.latest_version()
        assert coarse.latest_version() == v1


class TestSnapshotDiffMapColumns:
    """The fix the rollup flushed out: snapshot_diff (and therefore any
    CDF walk) over a table with MAP columns used to fail analysis."""

    def test_map_column_diff(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "m"))
        df = spark.createDataFrame(
            [(1, {1: 10}), (2, {2: 20}), (3, {3: 30})],
            "k int, m map<int,bigint>",
        )
        t.commit(df, mode="overwrite")
        upd = spark.createDataFrame(
            [(2, {2: 25}), (4, {4: 40})], "k int, m map<int,bigint>"
        )
        merge_into(t, spark, upd, key="k")
        d = {
            r["k"]: r["change"]
            for r in snapshot_diff(t, spark, 0, 1, key="k").collect()
        }
        # unchanged map rows emit nothing; changed map is U; new is I
        assert d == {2: "U", 4: "I"}


    def test_null_struct_vs_struct_of_nulls(self, spark, tmp_path):
        """A struct payload containing a map canonicalizes through the
        comparable twin; a NULL struct and a struct of all-NULL fields
        must still compare DIFFERENT (the twin carries an isNull
        discriminator — field access on a NULL struct would otherwise
        fabricate a struct of nulls)."""
        t = VersionedTable(str(tmp_path / "ns"))
        schema = "k int, s struct<m: map<int,bigint>, v: int>"
        t.commit(
            spark.createDataFrame([(1, None), (2, None)], schema),
            mode="overwrite",
        )
        merge_into(
            t, spark,
            spark.createDataFrame([(1, (None, None))], schema),
            key="k",
        )
        d = {
            r["k"]: r["change"]
            for r in snapshot_diff(t, spark, 0, 1, key="k").collect()
        }
        assert d == {1: "U"}


class TestRollupOverStreamFine:
    """A stream-maintained fine MV (kind \"agg-stream\") records the
    same measure-shaped spec, so the rollup derives from it
    identically — the ladder's bottom can be a live changefeed."""

    def test_rollup_over_stream_maintained_fine(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )
        from file_stream_import_spark.operators.mv import (
            make_mv_maintainer,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        base = _mk(spark, tmp_path, _rows(1, 121), "base")
        fine = VersionedTable(str(tmp_path / "fine"))
        coarse = VersionedTable(str(tmp_path / "coarse"))
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", base.path)
            .option("readchangedata", "true")
            .option("key", "k")
            .load()
            .writeStream.foreachBatch(
                make_mv_maintainer(
                    fine, "roll_sq", group_cols=["d", "site"],
                    sum_cols=[], source=base, min_cols=["x"],
                    max_cols=["x"], sumsq_cols=["x"],
                    percentile_cols=["x"],
                )
            )
            .option(
                "checkpointLocation", str(tmp_path / "ck_roll")
            )
            .start()
        )
        try:
            q.processAllAvailable()
            refresh_rollup_mv(fine, coarse, spark, name="c",
                              group_cols=["site"])
            assert load_mv_spec(coarse)["source_name"] == "roll_sq"
            # DML at the base flows stream -> fine -> rollup
            base.delete_where(spark, F.col("x") <= -0.70,
                              prune_where="auto")
            q.processAllAvailable()
            refresh_rollup_mv(fine, coarse, spark, name="c",
                              group_cols=["site"])
        finally:
            q.stop()
        exp = {
            r["site"]: r.asDict()
            for r in base.read(spark).groupBy("site").agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.min("x").alias("x_min"),
                F.max("x").alias("x_max"),
            ).collect()
        }
        got = {
            r["site"]: r.asDict()
            for r in coarse.read(spark).collect()
        }
        assert set(got) == set(exp)
        for s, e in exp.items():
            assert got[s]["n_rows"] == e["n_rows"], s
            assert got[s]["x_min"] == e["x_min"], s
            assert got[s]["x_max"] == e["x_max"], s


class TestRewriteOverRollup:
    """The kind-\"rollup\" spec is measure-shaped like an agg spec, so
    rewrite_with_mv serves it unchanged — a coarser-still grouping is
    answered from rollup-sized input, weighted counts staying BASE
    row counts."""

    def test_rewrite_serves_rollup_spec(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import (
            rewrite_with_mv,
        )

        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        ans = rewrite_with_mv(
            coarse, spark,
            group_cols=[],
            measures={
                "n_rows": ("count",),
                "x_min": ("min", "x"),
                "p50": ("percentile", "x", 0.5),
            },
        )
        assert ans is not None
        files = ans.inputFiles()
        assert files and all(coarse.path in f for f in files)
        row = ans.collect()[0]
        b = base.read(spark)
        assert row["n_rows"] == b.count()
        assert row["x_min"] == b.agg(F.min("x")).collect()[0][0]
        # exact global rank-percentile target
        import math

        n = b.count()
        want = sorted(r["x"] for r in b.collect())[
            math.ceil(0.5 * n) - 1
        ]
        if want == 0:
            assert row["p50"] == 0.0
        else:
            assert abs(row["p50"] / want - 1) <= 0.0101


class TestAnswerFromMvs:
    """MV selection over a catalog: the cheapest subsuming view wins,
    decided from manifest metadata (count_where, no scan)."""

    def test_picks_coarse_level_for_coarse_grouping(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.operators.mv import (
            answer_from_mvs,
        )

        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        got = answer_from_mvs(
            [fine, coarse], spark,
            group_cols=["site"],
            measures={"n_rows": ("count",), "x_min": ("min", "x")},
        )
        assert got is not None
        ans, chosen = got
        assert chosen.path == coarse.path
        files = ans.inputFiles()
        assert files and all(coarse.path in f for f in files)
        exp = _base_agg(spark, base, ["site"])
        for r in ans.collect():
            assert r["n_rows"] == exp[(r["site"],)]["n_rows"]
            assert r["x_min"] == exp[(r["site"],)]["x_min"]

    def test_fine_grouping_excludes_coarse(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import (
            answer_from_mvs,
        )

        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        got = answer_from_mvs(
            [coarse, fine], spark,
            group_cols=["d", "site"],
            measures={"n_rows": ("count",)},
        )
        assert got is not None
        _, chosen = got
        assert chosen.path == fine.path

    def test_unanswerable_returns_none(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import (
            answer_from_mvs,
        )

        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        assert (
            answer_from_mvs(
                [fine, coarse], spark,
                group_cols=["uid"],
                measures={"n_rows": ("count",)},
            )
            is None
        )


class TestRollupOverJoinMV:
    """A JOIN MV's spec is measure-shaped too (sums, weighted rows,
    histograms) — rolling it up coarsens the joined aggregate without
    ever re-running the join."""

    def test_rollup_over_join_mv(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import (
            refresh_join_mv,
        )

        a = VersionedTable(str(tmp_path / "a"))
        b = VersionedTable(str(tmp_path / "b"))
        jmv = VersionedTable(str(tmp_path / "jmv"))
        coarse = VersionedTable(str(tmp_path / "coarse"))
        a.commit(
            spark.createDataFrame(
                [
                    (k, k % 40, 100 + k,
                     ((k * 37) % 199 - 99) / 100.0)
                    for k in range(1, 201)
                ],
                "k int, ck int, cents bigint, frac double",
            ),
            mode="overwrite",
        )
        b.commit(
            spark.createDataFrame(
                [(ck, f"g{ck % 5}", f"r{ck % 2}") for ck in range(40)],
                "ck int, seg string, reg string",
            ),
            mode="overwrite",
        )
        kw = dict(
            name="jf", on=["ck"], group_cols=["reg", "seg"],
            sum_cols=["cents"], key_a="k", key_b="ck",
            percentile_cols=["frac"],
        )

        def refresh_all():
            refresh_join_mv(a, b, jmv, spark, **kw)
            refresh_rollup_mv(jmv, coarse, spark, name="jc",
                              group_cols=["reg"])

        def check():
            joined = a.read(spark).join(
                b.read(spark), on="ck", how="inner"
            )
            exp = {
                r["reg"]: r.asDict()
                for r in joined.groupBy("reg").agg(
                    F.count("*").cast("bigint").alias("n_rows"),
                    F.sum("cents").cast("bigint").alias("cents"),
                ).collect()
            }
            got = {
                r["reg"]: r.asDict()
                for r in coarse.read(spark)
                .withColumn(
                    "__p50", hist_percentile("frac_hist", 0.5)
                )
                .collect()
            }
            assert set(got) == set(exp)
            import math

            for reg, e in exp.items():
                assert got[reg]["n_rows"] == e["n_rows"], reg
                assert got[reg]["cents"] == e["cents"], reg
                vals = sorted(
                    r["frac"]
                    for r in joined.filter(
                        F.col("reg") == reg
                    ).collect()
                )
                want = vals[math.ceil(0.5 * len(vals)) - 1]
                p = got[reg]["__p50"]
                if want == 0:
                    assert p == 0.0, reg
                else:
                    assert abs(p / want - 1) <= 0.0101, (reg, p, want)

        refresh_all()
        check()
        # left append + right regroup crossing seg AND reg
        a.commit(
            spark.createDataFrame(
                [
                    (k, k % 40, 100 + k,
                     ((k * 37) % 199 - 99) / 100.0)
                    for k in range(201, 281)
                ],
                "k int, ck int, cents bigint, frac double",
            ),
            mode="append",
        )
        merge_into(
            b, spark,
            spark.createDataFrame(
                [(ck, "gX", "r0") for ck in range(0, 40, 7)],
                "ck int, seg string, reg string",
            ),
            key="ck",
        )
        refresh_all()
        check()


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from tests.test_incremental_mv import (  # noqa: E402
    _FUZZ_DERANDOMIZE,
    _FUZZ_EXAMPLES,
    _frac_op_st,
    _frac_rows_st,
)


def _widen(rows):
    """(k, g, x) -> (k, g, h, x): the second fine-group column derives
    from k so merges that move g also regroup under a stable h."""
    return [(k, g, f"h{k % 3}", x) for (k, g, x) in rows]


class TestRollupConvergenceFuzz:
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
    def test_ladder_equals_base_for_random_histories(
        self, spark, tmp_path_factory, init, ops
    ):
        """The CASCADE through random DML histories (merges moving
        groups, range deletes, appends, mid-history ladder refreshes,
        rename cycles): after a final ladder refresh the COARSE level
        must equal a full recompute from the base — weighted rows and
        min/max EXACTLY, double sums to fp tolerance, and the merged
        histogram maps EXACTLY (the two-hop self-maintainability
        claim, fuzzed on the mixed-sign fractional grid)."""
        import uuid

        from file_stream_import_spark.operators.mv import (
            _DEFAULT_PCT_ERR,
            _hist_base,
            _hist_map,
        )

        root = tmp_path_factory.mktemp("rollup_fuzz")
        src = VersionedTable(f"{root}/{uuid.uuid4().hex}")
        src.commit(
            spark.createDataFrame(
                _widen(init), "k long, g string, h string, x double"
            ),
            mode="overwrite",
        )
        fine = VersionedTable(f"{root}/{uuid.uuid4().hex}")
        coarse = VersionedTable(f"{root}/{uuid.uuid4().hex}")
        kw = dict(
            name="rf", group_cols=["g", "h"], sum_cols=["x"], key="k",
            min_cols=["x"], max_cols=["x"], percentile_cols=["x"],
        )

        def ladder():
            refresh_mv(src, fine, spark, **kw)
            refresh_rollup_mv(fine, coarse, spark, name="rc",
                              group_cols=["g"])

        ladder()
        for op in ops:
            kind = op[0]
            if kind == "merge":
                merge_into(
                    src, spark,
                    spark.createDataFrame(
                        _widen(op[1]),
                        "k long, g string, h string, x double",
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
                        _widen(fresh),
                        "k long, g string, h string, x double",
                    ),
                    mode="append",
                )
            elif kind == "rename_cycle":
                src.rename_column("x", "x_tmp")
                src.rename_column("x_tmp", "x")
            else:
                ladder()
        ladder()
        want = {
            r["g"]: r.asDict()
            for r in src.read(spark)
            .groupBy("g")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.coalesce(F.sum("x"), F.lit(0.0)).alias("x"),
                F.min("x").alias("x_min"),
                F.max("x").alias("x_max"),
            )
            .collect()
        }
        got = {
            r["g"]: r.asDict()
            for r in coarse.read(spark).collect()
        }
        assert set(got) == set(want), f"groups diverged after {ops}"
        for g, e in want.items():
            r = got[g]
            assert r["n_rows"] == e["n_rows"], (g, ops)
            assert abs(r["x"] - e["x"]) < 1e-9, (g, ops)
            assert r["x_min"] == e["x_min"], (g, ops)
            assert r["x_max"] == e["x_max"], (g, ops)
        hw = {
            r["g"]: dict(r["x_hist"])
            for r in _hist_map(
                src.read(spark), ["g"], "x",
                _hist_base(_DEFAULT_PCT_ERR), F.lit(1),
            ).collect()
        }
        hg = {
            r["g"]: dict(r["x_hist"])
            for r in coarse.read(spark).collect()
        }
        assert hg == hw, f"rollup histograms diverged after {ops}"


class TestRollupDecimalSums:
    def test_decimal_sums_fold_exactly(self, spark, tmp_path):
        """decimal(38,s) sum columns keep the exact-decimal fold type
        through the ladder (the fine MV stores decimal(38,2); the
        rollup must not silently widen to double)."""
        from decimal import Decimal

        base = VersionedTable(str(tmp_path / "base"))
        base.commit(
            spark.createDataFrame(
                [
                    (k, f"s{k % 3}", k % 5,
                     Decimal(k * 7 % 1000) / 100)
                    for k in range(1, 201)
                ],
                "k int, site string, d int, amt decimal(12,2)",
            ),
            mode="overwrite",
        )
        fine = VersionedTable(str(tmp_path / "fine"))
        coarse = VersionedTable(str(tmp_path / "coarse"))
        kw = dict(
            name="df", group_cols=["d", "site"], sum_cols=["amt"],
            key="k",
        )
        refresh_mv(base, fine, spark, **kw)
        refresh_rollup_mv(fine, coarse, spark, name="dc",
                          group_cols=["site"])
        assert dict(coarse.read(spark).dtypes)["amt"] == "decimal(38,2)"
        base.delete_where(spark, F.col("k") % 4 == 0,
                          prune_where="auto")
        refresh_mv(base, fine, spark, **kw)
        refresh_rollup_mv(fine, coarse, spark, name="dc",
                          group_cols=["site"])
        want = {
            (r["site"],): (r["n"], r["amt"])
            for r in base.read(spark).groupBy("site").agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("amt").alias("amt"),
            ).collect()
        }
        got = {
            (r["site"],): (r["n_rows"], r["amt"])
            for r in coarse.read(spark).collect()
        }
        assert got == want


class TestFilteredRollup:
    """source_where on the rollup: the coarse view's universe is a
    predicate over FINE MV rows — including measure columns, so a
    fine group entering/leaving the boundary (its count crossing the
    threshold) nets to a pure coarse insert/delete."""

    def test_measure_predicate_boundary_crossings(
        self, spark, tmp_path
    ):
        base, fine, coarse = _ladder(spark, tmp_path)

        def refresh_all():
            refresh_mv(base, fine, spark, **_FINE_KW)
            refresh_rollup_mv(
                fine, coarse, spark, name="fc",
                group_cols=["site"], source_where="n_rows >= 22",
            )

        def check():
            fine_full = (
                base.read(spark)
                .groupBy("d", "site")
                .agg(
                    F.count("*").cast("bigint").alias("n_rows"),
                    F.min("x").alias("x_min"),
                    F.max("x").alias("x_max"),
                )
                .filter(F.col("n_rows") >= 22)
            )
            want = {
                r["site"]: (r["n"], r["mn"], r["mx"])
                for r in fine_full.groupBy("site").agg(
                    F.sum("n_rows").cast("bigint").alias("n"),
                    F.min("x_min").alias("mn"),
                    F.max("x_max").alias("mx"),
                ).collect()
            }
            got = {
                r["site"]: (r["n_rows"], r["x_min"], r["x_max"])
                for r in coarse.read(spark).collect()
            }
            assert got == want

        refresh_all()
        check()
        # push some fine groups BELOW the threshold (leave the view),
        # others further above; the deltas cross the measure boundary
        base.delete_where(
            spark, (F.col("d") == 2) & (F.col("k") % 3 != 0),
            prune_where="auto",
        )
        base.commit(
            spark.createDataFrame(_rows(301, 391), _SCHEMA),
            mode="append",
        )
        refresh_all()
        check()
        assert load_mv_spec(coarse)["source_where"] == "n_rows >= 22"
        # changing the predicate is spec drift
        with pytest.raises(ValueError, match="spec mismatch"):
            refresh_rollup_mv(
                fine, coarse, spark, name="fc",
                group_cols=["site"], source_where="n_rows >= 5",
            )


class TestHavingRewrite:
    """HAVING pushed to the MV: a post-aggregation predicate on the
    answered frame — including stored-but-unrequested measures for
    exact groupings (SQL's HAVING-beyond-SELECT), conservative None
    when the subset grouping cannot resolve it."""

    def test_having_filters_answer(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import (
            rewrite_with_mv,
        )

        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        ans = rewrite_with_mv(
            coarse, spark,
            group_cols=["site"],
            measures={"n": ("count",)},
            having="n >= 100",
        )
        assert ans is not None
        got = {r["site"]: r["n"] for r in ans.collect()}
        want = {
            r["site"]: r["n"]
            for r in base.read(spark).groupBy("site")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= 100)
            .collect()
        }
        assert got == want and got  # non-empty at this data size

    def test_having_on_stored_unrequested_measure_exact(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.operators.mv import (
            rewrite_with_mv,
        )

        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        # x_min is maintained but NOT requested: exact grouping may
        # still reference it (stored measures ARE group aggregates)
        ans = rewrite_with_mv(
            coarse, spark,
            group_cols=["site"],
            measures={"n": ("count",)},
            having="x_min <= -0.9",
        )
        assert ans is not None
        got = {r["site"] for r in ans.collect()}
        want = {
            r["site"]
            for r in base.read(spark).groupBy("site")
            .agg(F.min("x").alias("m"))
            .filter(F.col("m") <= -0.9)
            .collect()
        }
        assert got == want

    def test_having_unresolvable_falls_back(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import (
            rewrite_with_mv,
        )

        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        # GLOBAL grouping re-aggregates: the stored x_min column is
        # gone after the agg, and it was not requested -> None
        assert (
            rewrite_with_mv(
                coarse, spark,
                group_cols=[],
                measures={"n": ("count",)},
                having="x_min <= -0.9",
            )
            is None
        )

    def test_garbage_having_raises(self, spark, tmp_path):
        from file_stream_import_spark.operators.mv import (
            rewrite_with_mv,
        )

        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        with pytest.raises(ValueError, match="unparseable"):
            rewrite_with_mv(
                coarse, spark,
                group_cols=["site"],
                measures={"n": ("count",)},
                having="n >=",
            )


class TestRollupWatermarkPinning:
    def test_pinned_fine_vacuum_survives(self, spark, tmp_path):
        """pin_watermark=True tags the FINE MV at the rollup's
        watermark, so a fine-side vacuum cannot expire the manifests
        the next rollup fold needs."""
        base, fine, coarse = _ladder(spark, tmp_path)
        refresh_mv(base, fine, spark, **_FINE_KW)
        refresh_rollup_mv(fine, coarse, spark, name="coarse",
                          group_cols=["site"], pin_watermark=True)
        for w in range(2):
            base.commit(
                spark.createDataFrame(
                    _rows(301 + 30 * w, 331 + 30 * w), _SCHEMA
                ),
                mode="append",
            )
            refresh_mv(base, fine, spark, **_FINE_KW)
        fine.vacuum(keep_versions=1, min_age_seconds=0)
        refresh_rollup_mv(fine, coarse, spark, name="coarse",
                          group_cols=["site"], pin_watermark=True)
        _check_level(spark, base, coarse, ["site"])


class TestRollupNeverReadsBase:
    """Once the ladder is bootstrapped, the coarse level never touches
    the base table: it folds the fine MV's CDF, and its endangered
    extremes recompute from the fine MV. Only the fine level reads the
    base. Timed at scale by ``b195d10:tools/ab_rollup.py``: rollup
    refresh 2.541 -> 2.571 s (1.01x) on a fixed 20k-row append and
    2.852 -> 2.600 s (0.91x) on a fixed delete wave, at 100k vs 5M
    base rows."""

    def test_coarse_refresh_reads_no_base(
        self, spark, tmp_path, monkeypatch
    ):
        base, fine, coarse = _ladder(spark, tmp_path)
        _refresh_ladder(spark, base, fine, coarse)
        base_calls = [0]
        base_path = os.path.realpath(base.path)
        for meth in ("latest_version", "_load_manifest", "read"):
            orig = getattr(VersionedTable, meth)

            def counting(self, *a, __orig=orig, **kw):
                if os.path.realpath(self.path) == base_path:
                    base_calls[0] += 1
                return __orig(self, *a, **kw)

            monkeypatch.setattr(VersionedTable, meth, counting)
        for wave in ("append", "delete"):
            if wave == "append":
                base.commit(
                    spark.createDataFrame(_rows(301, 341), _SCHEMA),
                    mode="append",
                )
            else:  # endangers stored minima at both levels
                base.delete_where(
                    spark, F.col("x") <= -0.80, prune_where="auto"
                )
            base_calls[0] = 0
            refresh_mv(base, fine, spark, **_FINE_KW)
            assert base_calls[0] > 0, wave  # the fine level reads it
            base_calls[0] = 0
            before = coarse.latest_version()
            refresh_rollup_mv(
                fine, coarse, spark, name="coarse", group_cols=["site"]
            )
            assert coarse.latest_version() > before, wave
            assert base_calls[0] == 0, wave
