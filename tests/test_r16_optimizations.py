"""Round-16 optimization behaviors.

Each test pins one of the r16 performance changes at the SEMANTIC
level — the optimizations must never change what a caller observes,
except where the new behavior is itself the contract (write-side file
sizing, lazy dup probe's error channel).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    VersionedTable,
    merge_into,
    snapshot_diff,
    table_changes_cdf,
)


def _mk(spark, rows, schema="k long, v long, extra string"):
    return spark.createDataFrame(rows, schema)


class TestFusedDupProbe:
    def test_duplicate_source_keys_still_raise(self, spark, tmp_path):
        """The dup probe now rides the touch-test aggregate — the
        contract (ValueError before any write) is unchanged."""
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_mk(spark, [(1, 10, "a")]), mode="overwrite")
        dup = _mk(spark, [(2, 20, "b"), (2, 21, "c")])
        with pytest.raises(ValueError, match="duplicate keys"):
            merge_into(t, spark, dup, key="k")
        # nothing was committed
        assert t.latest_version() == 0

    def test_duplicate_keys_raise_on_first_commit_path(
        self, spark, tmp_path
    ):
        """base-is-None merges (first commit) keep the probe too."""
        t = VersionedTable(str(tmp_path / "t"))
        dup = _mk(spark, [(2, 20, "b"), (2, 21, "c")])
        with pytest.raises(ValueError, match="duplicate keys"):
            merge_into(t, spark, dup, key="k")

    def test_null_keys_count_as_duplicates(self, spark, tmp_path):
        """Two NULL-keyed source rows collide, exactly like the old
        groupBy probe (struct-of-key comparison is null-safe)."""
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_mk(spark, [(1, 10, "a")]), mode="overwrite")
        dup = _mk(spark, [(None, 20, "b"), (None, 21, "c")])
        with pytest.raises(ValueError, match="duplicate keys"):
            merge_into(t, spark, dup, key="k")

    def test_source_unique_merge_result_identical(self, spark, tmp_path):
        """source_unique=True skips the probe; a normal merge's result
        is byte-identical either way."""
        rows = [(i, i * 10, "x") for i in range(20)]
        upd = _mk(spark, [(5, 999, "y"), (25, 1, "z")])
        t1 = VersionedTable(str(tmp_path / "a"))
        t1.commit(_mk(spark, rows), mode="overwrite")
        merge_into(t1, spark, upd, key="k")
        t2 = VersionedTable(str(tmp_path / "b"))
        t2.commit(_mk(spark, rows), mode="overwrite")
        merge_into(t2, spark, upd, key="k", source_unique=True)
        a = sorted(map(tuple, t1.read(spark).collect()))
        b = sorted(map(tuple, t2.read(spark).collect()))
        assert a == b and len(a) == 21


class TestLazyDupProbe:
    def test_lazy_probe_raises_at_consumption(self, spark, tmp_path):
        """dup_probe='lazy' embeds the key-uniqueness guard in the
        diff plan: a raw-append duplicate key surfaces when the diff
        is consumed (Spark USER_RAISED_EXCEPTION with the contract
        message) instead of at call time."""
        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        t.commit(mk([(0, "seed")]))
        t.commit(mk([(1, "x")]))
        t.commit(mk([(1, "y"), (2, "b")]))
        d = snapshot_diff(
            t, spark, t.latest_version() - 2, t.latest_version(),
            key="k", dup_probe="lazy",
        )
        with pytest.raises(Exception, match="key-unique"):
            d.collect()

    def test_lazy_probe_passes_clean_diff(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        t.commit(mk([(1, "a"), (2, "b")]), mode="overwrite")
        t.commit(mk([(3, "c")]))
        d = snapshot_diff(t, spark, 0, 1, key="k", dup_probe="lazy")
        got = {(r["k"], r["change"]) for r in d.collect()}
        assert got == {(3, "I")}
        assert "__diff_dups" not in d.columns


class TestDiffUnionAggregate:
    """The diff's full-outer join became a union + one grouped
    aggregate (one exchange, per-side dup counts riding the same
    pass). These pin the join-era semantics the aggregate must
    reproduce exactly."""

    def test_null_keys_never_pair_across_sides(self, spark, tmp_path):
        """A NULL key never matched under the equi-join, so it always
        surfaced as a pure D (old side) / I (new side) — even when
        the payload is identical on both sides. groupBy treats NULLs
        as equal, so the aggregate must decompose such a group back
        into its per-side rows."""
        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        t.commit(mk([(None, "same"), (1, "a"), (2, "b")]),
                 mode="overwrite")
        t.commit(mk([(None, "same"), (1, "a"), (3, "c")]),
                 mode="overwrite")
        for probe in ("eager", "lazy"):
            d = snapshot_diff(t, spark, 0, 1, key="k", dup_probe=probe)
            got = sorted(
                (
                    (r["k"], r["change"],
                     None if r["old"] is None else r["old"]["v"],
                     None if r["new"] is None else r["new"]["v"])
                    for r in d.collect()
                ),
                key=lambda x: (x[0] is None, x[0] or 0, x[1]),
            )
            assert got == [
                (2, "D", "b", None),
                (3, "I", None, "c"),
                (None, "D", "same", None),
                (None, "I", None, "same"),
            ], (probe, got)

    def test_null_key_duplicates_still_raise(self, spark, tmp_path):
        """Two NULL-keyed rows in ONE side collide (the old probe's
        groupBy counted NULLs together); both probe modes must keep
        raising, not silently emit two D/I rows."""
        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        t.commit(mk([(2, "x")]), mode="overwrite")
        t.commit(mk([(None, "b"), (None, "c")]), mode="append")
        with pytest.raises(ValueError, match="key-unique"):
            snapshot_diff(t, spark, 0, 1, key="k", dup_probe="eager")
        d = snapshot_diff(t, spark, 0, 1, key="k", dup_probe="lazy")
        with pytest.raises(Exception, match="key-unique"):
            d.collect()

    def test_lazy_dup_raises_even_when_group_would_cancel(
        self, spark, tmp_path
    ):
        """The guard rides the change CASE's filter, which every
        group evaluates — a duplicate whose first() draw happens to
        equal the other side (an 'unchanged' group the output drops)
        must still raise on consumption."""
        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        t.commit(mk([(1, "a")]), mode="overwrite")
        t.commit(mk([(1, "a"), (1, "a")]), mode="overwrite")
        d = snapshot_diff(t, spark, 0, 1, key="k", dup_probe="lazy")
        with pytest.raises(Exception, match="key-unique"):
            d.collect()

    def test_map_payload_still_order_insensitive(self, spark, tmp_path):
        """MAP payloads compare through the canonicalized twin in the
        aggregate exactly as they did across the join: same entries
        in a different order is NOT an update."""
        t = VersionedTable(str(tmp_path / "t"))
        df1 = spark.sql(
            "SELECT 1L AS k, map('a', 1, 'b', 2) AS m"
        )
        df2 = spark.sql(
            "SELECT 1L AS k, map('b', 2, 'a', 1) AS m"
        )
        t.commit(df1, mode="overwrite")
        t.commit(df2, mode="overwrite")
        d = snapshot_diff(t, spark, 0, 1, key="k", dup_probe="lazy")
        assert d.collect() == []
        t.commit(
            spark.sql("SELECT 1L AS k, map('a', 9, 'b', 2) AS m"),
            mode="overwrite",
        )
        d2 = snapshot_diff(t, spark, 1, 2, key="k")
        rows = d2.collect()
        assert [(r["k"], r["change"]) for r in rows] == [(1, "U")]

    def test_single_exchange_no_join_in_plan(self, spark, tmp_path):
        """The diff plan carries ONE shuffle exchange and no join —
        the old shape was two per-side exchanges + a full-outer
        SortMergeJoin plus the lazy guard's second read of both
        sides."""
        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        t.commit(mk([(1, "a"), (2, "b")]), mode="overwrite")
        t.commit(mk([(2, "B"), (3, "c")]), mode="overwrite")
        d = snapshot_diff(t, spark, 0, 1, key="k", dup_probe="lazy")
        plan = d._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
        assert "SortMergeJoin" not in plan
        assert "Join" not in plan
        # one exchange node (formatted explain prints each node
        # twice: tree + details)
        assert plan.count("Exchange") == 2


class TestProjectedCdf:
    def test_projected_cdf_matches_full_on_tracked_columns(
        self, spark, tmp_path
    ):
        """columns=[...] restricts the CDF payload; rows for changes
        of TRACKED columns are identical to the full CDF projected."""
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            _mk(spark, [(1, 10, "a"), (2, 20, "b")]), mode="overwrite"
        )
        merge_into(
            t, spark, _mk(spark, [(1, 11, "a"), (3, 30, "c")]), key="k"
        )
        full = table_changes_cdf(t, spark, 1, key="k")
        proj = table_changes_cdf(t, spark, 1, key="k", columns=["v"])
        assert set(proj.columns) == {
            "k", "v", "_change_type", "_commit_version"
        }
        want = {
            (r["k"], r["v"], r["_change_type"])
            for r in full.select(
                "k", "v", "_change_type"
            ).collect()
        }
        got = {
            (r["k"], r["v"], r["_change_type"]) for r in proj.collect()
        }
        assert got == want

    def test_untracked_only_update_emits_no_projected_rows(
        self, spark, tmp_path
    ):
        """An update touching ONLY untracked columns emits no CDF row
        under projection — the ± pair it previously emitted cancels
        in every signed fold, so MV results are unchanged while the
        diff shuffles nothing for it."""
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            _mk(spark, [(1, 10, "a"), (2, 20, "b")]), mode="overwrite"
        )
        # v unchanged, only 'extra' changes
        merge_into(t, spark, _mk(spark, [(1, 10, "CHANGED")]), key="k")
        proj = table_changes_cdf(t, spark, 1, key="k", columns=["v"])
        assert proj.count() == 0
        full = table_changes_cdf(t, spark, 1, key="k")
        assert full.count() == 2  # pre+post pair still in the full CDF

    def test_refresh_mv_unaffected_by_untracked_update(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.operators.mv import refresh_mv

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            _mk(
                spark,
                [(1, 10, "a"), (2, 20, "a"), (3, 5, "b")],
                "k long, v long, g string",
            ),
            mode="overwrite",
        )
        mv = VersionedTable(str(tmp_path / "mv"))
        refresh_mv(
            t, mv, spark, name="m", group_cols=["g"],
            sum_cols=["v"], key="k",
        )
        before = sorted(map(tuple, mv.read(spark).collect()))
        # update only the untracked... here every column is tracked
        # except none — so instead bump v and verify the fold, then
        # merge an identical row (no-op update) and verify zero delta
        merge_into(
            t, spark,
            _mk(spark, [(1, 10, "a")], "k long, v long, g string"),
            key="k",
        )
        v = refresh_mv(
            t, mv, spark, name="m", group_cols=["g"],
            sum_cols=["v"], key="k",
        )
        assert v == t.latest_version()
        assert sorted(map(tuple, mv.read(spark).collect())) == before


class TestWriteFileSizing:
    def test_small_commit_coalesces_to_one_file(self, spark, tmp_path):
        """Write-side REBALANCE: a tiny commit arriving in many
        partitions lands as one right-sized file, not one file per
        upstream partition (guide §6 small-files fix; the changefeed
        plans per file, so this bounds task fan-out too)."""
        t = VersionedTable(str(tmp_path / "t"))
        df = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).repartition(16)
        t.commit(df, mode="overwrite")
        m = t._load_manifest(0)
        g = m["groups"][0]
        files = [
            n
            for n in os.listdir(os.path.join(t.path, g))
            if n.endswith(".parquet")
        ]
        assert len(files) == 1
        assert t.read(spark).count() == 1000

    def test_empty_commit_still_readable(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        df = spark.range(10).filter("id < 0").select(
            F.col("id").alias("k")
        )
        t.commit(df, mode="overwrite")
        assert t.read(spark).count() == 0


class TestRebalanceSizeGate:
    """_size_write_delta, the gate every data-group write passes
    through: a delta the optimizer estimates over the gate keeps its
    upstream partitioning (the shuffle there is a full extra pass that
    cannot fix a tiny-files pathology it does not have — measured 1.7x
    on a 280 MB commit with the file count unchanged, revision
    9f98adb); a known sub-advisory delta is coalesced to one partition;
    everything else gets the REBALANCE hint."""

    @staticmethod
    def _gated(df):
        from file_stream_import_spark.io.versioned import (
            _size_write_delta,
        )

        out = _size_write_delta(df)
        return out, out._jdf.queryExecution().analyzed().toString()

    def test_sub_advisory_estimate_coalesces(self, spark):
        _, plan = self._gated(
            spark.range(1000).selectExpr("id as k", "id * 2 as v")
        )
        assert "Repartition 1, false" in plan
        assert "RebalancePartitions" not in plan

    def test_small_estimate_rebalances(self, spark):
        from file_stream_import_spark.io.versioned import (
            _WRITE_REBALANCE_MAX_BYTES,
            _advisory_bytes,
            _write_size_estimate,
        )

        # over the 64 MB advisory, under the 256 MB gate
        df = spark.range(20_000_000)
        est = _write_size_estimate(df)
        assert _advisory_bytes(spark) < est <= _WRITE_REBALANCE_MAX_BYTES
        _, plan = self._gated(df)
        assert "RebalancePartitions" in plan

    def test_large_estimate_skips(self, spark):
        # Range reports exact rows x width stats without running a
        # job: 10^9 rows x 8 B >> the 256 MB gate
        df = spark.range(1_000_000_000)
        out, _ = self._gated(df)
        assert out is df

    def test_unknown_estimate_rebalances(self, spark):
        """RDD-backed plans (foreachBatch micro-batch deltas) report
        the defaultSizeInBytes sentinel — exactly the exactly-once
        small-commit shapes the hint exists for, so unknown must mean
        rebalance, never coalesce(1)."""
        from file_stream_import_spark.io.versioned import (
            _write_size_estimate,
        )

        df = spark.createDataFrame(
            spark.sparkContext.parallelize([(i,) for i in range(100)]),
            "k long",
        )
        assert _write_size_estimate(df) is None
        _, plan = self._gated(df)
        assert "RebalancePartitions" in plan
        assert "Repartition 1, false" not in plan

    def test_advisory_bytes_reads_spark_byte_strings(self, spark):
        """The advisory conf is parsed as Spark parses it: a bare
        ``b`` suffix and ``1g`` read their real sizes."""
        from file_stream_import_spark.io.versioned import _advisory_bytes

        key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        old = spark.conf.get(key)
        try:
            for raw, want in (
                ("64m", 64 << 20),
                ("134217728b", 128 << 20),
                ("1g", 1 << 30),
            ):
                spark.conf.set(key, raw)
                assert _advisory_bytes(spark) == want, raw
        finally:
            spark.conf.set(key, old)

    def test_large_commit_keeps_upstream_layout(self, spark, tmp_path):
        """End-to-end: a delta estimated over the gate writes one file
        per upstream partition (no rebalance shuffle), and the table
        still reads back intact."""
        import file_stream_import_spark.io.versioned as V

        src = str(tmp_path / "src")
        spark.range(5_000).selectExpr(
            "id as k", "id * 3 as v"
        ).write.parquet(src)
        # explicit upstream partitioning (the scan alone may pack the
        # small files into one split); Repartition passes the scan's
        # real size estimate through, so the gate still sees a finite
        # stat rather than the unknown sentinel
        delta = spark.read.parquet(src).repartition(7)

        old = V._WRITE_REBALANCE_MAX_BYTES
        V._WRITE_REBALANCE_MAX_BYTES = 1  # force "large" without big data
        try:
            t = VersionedTable(str(tmp_path / "t"))
            t.commit(delta, mode="overwrite")
        finally:
            V._WRITE_REBALANCE_MAX_BYTES = old
        m = t._load_manifest(0)
        g = m["groups"][0]
        files = [
            n
            for n in os.listdir(os.path.join(t.path, g))
            if n.endswith(".parquet")
        ]
        assert len(files) == 7  # upstream partitioning preserved
        assert t.read(spark).count() == 5_000


class TestSignedDirectFold:
    """Linear-aggregate MVs (exact sums/counts/histograms only) refresh
    through table_signed_rows — no keyed CDF, no per-key shuffle. The
    fold must be indistinguishable from the keyed-CDF path."""

    def _mv_rows(self, spark, mv):
        return sorted(
            map(tuple, mv.read(spark).collect()), key=str
        )

    def test_fast_and_cdf_paths_agree_through_dml(self, spark, tmp_path):
        """Every refresh of the same DML history — updates, group
        moves, deletes, multi-commit refresh windows — equals a
        from-scratch groupBy of the source, for the linear spec (signed
        fold) and for the same spec plus min_cols (keyed-CDF fold)."""
        from file_stream_import_spark.operators import mv as M
        from file_stream_import_spark.io.versioned import apply_changes

        mk = lambda rows: spark.createDataFrame(
            rows, "k long, g string, x long"
        )
        for tag, extra in (("lin", {}), ("min", {"min_cols": ["x"]})):
            t = VersionedTable(str(tmp_path / f"t{tag}"))
            view = VersionedTable(str(tmp_path / f"v{tag}"))
            aggs = [F.sum("x").alias("x"), F.count("*").alias("n_rows")]
            aggs += [F.min("x").alias("x_min")] if extra else []

            def refresh_and_check():
                M.refresh_mv(
                    t, view, spark, name="m", group_cols=["g"],
                    sum_cols=["x"], key="k", **extra,
                )
                want = t.read(spark).groupBy("g").agg(*aggs)
                got = view.read(spark).select(*want.columns)
                assert sorted(map(tuple, got.collect()), key=str) == sorted(
                    map(tuple, want.collect()), key=str
                ), tag

            t.commit(
                mk([(i, "ab"[i % 2], i * 10) for i in range(20)]),
                mode="overwrite",
            )
            refresh_and_check()
            # one refresh per commit, then one spanning two commits
            merge_into(
                t, spark, mk([(1, "a", 999), (20, "b", 5)]), key="k"
            )
            refresh_and_check()
            apply_changes(
                t, spark,
                spark.createDataFrame(
                    [(2, "b", 7, "U"), (3, None, None, "D"),
                     (30, "a", 1, "I")],
                    "k long, g string, x long, op string",
                ),
                key="k",
            )
            t.delete_where(spark, F.col("k").between(10, 12))
            refresh_and_check()

    def test_fast_path_is_taken_and_gated(
        self, spark, tmp_path, monkeypatch
    ):
        """Eligible specs call table_signed_rows; specs with min/max
        (non-linear folds) or double sums (inexact cancellation) stay
        on the keyed CDF path."""
        from file_stream_import_spark.operators import mv as M

        calls = []
        orig = M.table_signed_rows

        def spy(*a, **kw):
            calls.append(True)
            return orig(*a, **kw)

        monkeypatch.setattr(M, "table_signed_rows", spy)
        mk = lambda rows: spark.createDataFrame(
            rows, "k long, g string, x long, d double"
        )
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(mk([(1, "a", 1, 0.5), (2, "b", 2, 1.5)]),
                 mode="overwrite")
        eligible = VersionedTable(str(tmp_path / "m1"))
        minmax = VersionedTable(str(tmp_path / "m2"))
        dbl = VersionedTable(str(tmp_path / "m3"))
        kw = dict(group_cols=["g"], key="k")
        M.refresh_mv(t, eligible, spark, name="e", sum_cols=["x"], **kw)
        M.refresh_mv(
            t, minmax, spark, name="mm", sum_cols=["x"],
            min_cols=["x"], **kw,
        )
        M.refresh_mv(t, dbl, spark, name="d", sum_cols=["d"], **kw)
        merge_into(t, spark, mk([(1, "a", 3, 2.5)]), key="k")
        calls.clear()
        M.refresh_mv(t, eligible, spark, name="e", sum_cols=["x"], **kw)
        assert calls, "eligible spec must take the signed fold"
        calls.clear()
        M.refresh_mv(
            t, minmax, spark, name="mm", sum_cols=["x"],
            min_cols=["x"], **kw,
        )
        assert not calls, "min/max spec must stay on the CDF path"
        M.refresh_mv(t, dbl, spark, name="d", sum_cols=["d"], **kw)
        assert not calls, "double-sum spec must stay on the CDF path"

    def test_pure_cancel_window_advances_watermark_untouched(
        self, spark, tmp_path
    ):
        """A rewrite that changes no row values (compaction-shaped:
        groups differ, rows cancel) folds to an EMPTY delta — the MV
        rows are untouched but the watermark still advances."""
        from file_stream_import_spark.operators import mv as M

        mk = lambda rows: spark.createDataFrame(
            rows, "k long, g string, x long"
        )
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(mk([(i, "ab"[i % 2], i) for i in range(10)]),
                 mode="overwrite")
        t.commit(mk([(i, "ab"[i % 2], i) for i in range(10, 20)]))
        view = VersionedTable(str(tmp_path / "v"))
        M.refresh_mv(
            t, view, spark, name="m", group_cols=["g"],
            sum_cols=["x"], key="k",
        )
        before = self._mv_rows(spark, view)
        t.compact(spark, min_bytes=1 << 30)  # rewrite, same rows
        assert t.latest_version() == 2
        wm = M.refresh_mv(
            t, view, spark, name="m", group_cols=["g"],
            sum_cols=["x"], key="k",
        )
        assert wm == 2
        assert self._mv_rows(spark, view) == before

    def test_filtered_mv_boundary_cross_fast_path(
        self, spark, tmp_path
    ):
        """source_where MVs stay eligible: an update moving a row
        across the view boundary nets to a pure insert/delete of the
        view row under the signed fold."""
        from file_stream_import_spark.operators import mv as M

        mk = lambda rows: spark.createDataFrame(
            rows, "k long, g string, x long"
        )
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(mk([(1, "a", 5), (2, "a", 50), (3, "b", 70)]),
                 mode="overwrite")
        view = VersionedTable(str(tmp_path / "v"))
        kw = dict(
            name="m", group_cols=["g"], sum_cols=["x"], key="k",
            source_where="x >= 10",
        )
        M.refresh_mv(t, view, spark, **kw)
        # 1 enters the view (5 -> 30); 3 leaves it (70 -> 9)
        merge_into(
            t, spark, mk([(1, "a", 30), (3, "b", 9)]), key="k"
        )
        M.refresh_mv(t, view, spark, **kw)
        got = {
            r["g"]: (r["x"], r["n_rows"])
            for r in view.read(spark).collect()
        }
        assert got == {"a": (80, 2)}

    def test_rollup_fast_path_matches_base_recompute(
        self, spark, tmp_path
    ):
        """The rollup's signed fold over fine-MV rows equals a coarse
        recompute from the base table after mixed DML."""
        from file_stream_import_spark.operators import mv as M

        mk = lambda rows: spark.createDataFrame(
            rows, "k long, g string, b int, x long"
        )
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            mk([(i, "ab"[i % 2], i % 3, i * 10) for i in range(30)]),
            mode="overwrite",
        )
        fine = VersionedTable(str(tmp_path / "fine"))
        roll = VersionedTable(str(tmp_path / "roll"))
        fkw = dict(
            name="f", group_cols=["g", "b"], sum_cols=["x"], key="k"
        )
        M.refresh_mv(t, fine, spark, **fkw)
        M.refresh_rollup_mv(fine, roll, spark, name="r",
                            group_cols=["g"])
        merge_into(
            t, spark, mk([(1, "b", 2, 999), (40, "a", 0, 4)]), key="k"
        )
        t.delete_where(spark, F.col("k") < 5)
        M.refresh_mv(t, fine, spark, **fkw)
        M.refresh_rollup_mv(fine, roll, spark, name="r",
                            group_cols=["g"])
        want = {
            (r["g"]): (r["x"], r["n_rows"])
            for r in t.read(spark)
            .groupBy("g")
            .agg(F.sum("x").alias("x"), F.count("*").alias("n_rows"))
            .collect()
        }
        got = {
            r["g"]: (r["x"], r["n_rows"])
            for r in roll.read(spark).collect()
        }
        assert got == want


class TestHofLambdaNoRetokenize:
    """The shingle/n-gram/winnow/chunk kernels must never capture the
    tokenization expression inside a higher-order-function lambda: a
    captured subtree is re-evaluated PER ELEMENT, which re-runs the
    regex split once per gram position — quadratic in document length
    (measured 13.8s -> 1.8s on the sf0.1 shingle pass). The invariant
    is pinned structurally: no lambdafunction body in the analyzed plan
    may contain a split() call."""

    @staticmethod
    def _lambda_bodies(plan: str) -> list[str]:
        import re

        out = []
        for m in re.finditer(r"lambdafunction\(", plan):
            i, depth = m.end(), 1
            while depth and i < len(plan):
                if plan[i] == "(":
                    depth += 1
                elif plan[i] == ")":
                    depth -= 1
                i += 1
            out.append(plan[m.start():i])
        return out

    def _assert_no_split_in_lambdas(self, df):
        plan = df._jdf.queryExecution().analyzed().toString()
        bodies = self._lambda_bodies(plan)
        assert bodies, "expected at least one lambda in the plan"
        offenders = [b[:120] for b in bodies if "split(" in b]
        assert not offenders, offenders

    @pytest.fixture()
    def docs(self, spark):
        return spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")],
            "doc_id int, text string",
        )

    def test_shingles(self, docs):
        from file_stream_import_spark.operators.dedup import shingles

        self._assert_no_split_in_lambdas(shingles(docs))

    def test_chunk_dedup(self, docs):
        from file_stream_import_spark.operators.dedup import chunk_dedup

        self._assert_no_split_in_lambdas(chunk_dedup(docs, chunk_tokens=2))

    def test_winnow_fingerprints(self, docs):
        from file_stream_import_spark.operators.text import (
            winnow_fingerprints,
        )

        self._assert_no_split_in_lambdas(winnow_fingerprints(docs))

    def test_word_ngrams(self, docs):
        from file_stream_import_spark.operators.curation import word_ngrams

        self._assert_no_split_in_lambdas(
            docs.select(word_ngrams("text", 3).alias("g"))
        )

    def test_word_ngrams_values_unchanged(self, spark):
        """The zip_with rewrite emits the exact same grams as the old
        element_at form, including the short-document empty-array edge."""
        from file_stream_import_spark.operators.curation import word_ngrams

        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "one two"), (3, "solo"), (4, "")],
            "doc_id int, text string",
        )
        got = {
            r["doc_id"]: r["g"]
            for r in df.select(
                "doc_id", word_ngrams("text", 2).alias("g")
            ).collect()
        }
        assert got == {
            1: ["a b", "b c", "c d"],
            2: ["one two"],
            3: [],
            4: [],
        }


class TestVecmathHoistAnti:
    """r16 similarity-path changes: (1) cosine_neardup_dedup's exact
    path is ONE BroadcastNestedLoopJoin LeftAnti (short-circuits at the
    first qualifying neighbor — the NOT EXISTS shape) instead of inner
    join → distinct → anti join; (2) per-row L2 norms are hoisted out
    of per-pair expressions everywhere a join follows, which must be
    BIT-identical to the per-pair form; (3) centroid norms are plan-time
    Python literals that must equal the JVM fold exactly."""

    @pytest.fixture()
    def vecs(self, spark):
        import random

        rng = random.Random(7)
        rows = []
        base = [rng.uniform(-1, 1) for _ in range(8)]
        for i in range(40):
            if i % 3 == 0:
                # near-dup cluster around base (cosine ~1)
                v = [x + rng.uniform(-0.01, 0.01) for x in base]
            elif i % 3 == 1:
                v = [-x for x in base]  # anti-correlated
            else:
                v = [rng.uniform(-1, 1) for _ in range(8)]
            rows.append((i, [float(x) for x in v]))
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        )

    def test_exact_dedup_matches_pairwise_reference(self, spark, vecs):
        from file_stream_import_spark.operators.similarity import (
            cosine,
            cosine_neardup_dedup,
        )

        got = sorted(
            r[0]
            for r in cosine_neardup_dedup(
                vecs, min_cos=0.4, exact=True
            ).collect()
        )
        # reference: the r15 inner-join -> doomed -> anti-join form
        ids = vecs.select("vec_id", "embedding")
        a = ids.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").cast("array<double>").alias("va"),
        )
        b = ids.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").cast("array<double>").alias("vb"),
        )
        dup = (
            b.join(F.broadcast(a), F.col("id_a") < F.col("id_b"))
            .withColumn("cos", cosine(F.col("va"), F.col("vb")))
            .filter(F.col("cos") >= 0.4)
        )
        doomed = dup.select(F.col("id_b").alias("vec_id")).distinct()
        want = sorted(
            r[0]
            for r in vecs.join(doomed, "vec_id", "left_anti")
            .select("vec_id")
            .collect()
        )
        assert got == want
        assert 0 < len(got) < 40  # planted dups actually pruned

    def test_exact_dedup_plan_is_single_anti_join(self, spark, vecs):
        # r17 made the numpy cogroup kernel the path for integral ids;
        # this pins the JVM anti join (the non-integral-id path) — see
        # test_r17_optimizations for the kernel-path plan shape
        from file_stream_import_spark.operators.similarity import (
            _neardup_exact_jvm,
        )

        plan = (
            _neardup_exact_jvm(vecs, "vec_id", "embedding", 0.4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" in plan and "LeftAnti" in plan
        # the old shape's extra pass is gone: no inner pair join, no
        # doomed-set distinct aggregate
        assert "Inner" not in plan
        assert "HashAggregate" not in plan and "SortAggregate" not in plan

    def test_hoisted_norm_cosine_bit_identical(self, spark, vecs):
        from file_stream_import_spark.operators.similarity import (
            _cos_with_norms,
            _norm,
            cosine,
        )

        a = vecs.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").cast("array<double>").alias("va"),
        ).withColumn("na", _norm(F.col("va")))
        b = vecs.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").cast("array<double>").alias("vb"),
        ).withColumn("nb", _norm(F.col("vb")))
        pairs = b.join(F.broadcast(a), F.col("id_a") < F.col("id_b"))
        bad = pairs.filter(
            ~(
                cosine(F.col("va"), F.col("vb")).eqNullSafe(
                    _cos_with_norms(
                        F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                    )
                )
            )
        ).count()
        assert bad == 0

    def test_python_centroid_norm_equals_jvm_fold(self, spark):
        from file_stream_import_spark.operators.similarity import (
            _norm,
            _py_norm,
        )

        cvs = [
            [0.1, -2.5, 3.25, 0.0],
            [1e-8, 1e8, -1e-8, 7.0],
            [0.0, 0.0, 0.0, 0.0],
        ]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(cvs)], "i int, v array<double>"
        )
        jvm = {
            r["i"]: r["n"]
            for r in df.select("i", _norm(F.col("v")).alias("n")).collect()
        }
        for i, cv in enumerate(cvs):
            assert jvm[i] == _py_norm(cv)
