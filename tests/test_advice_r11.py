"""Regression tests for the round-11 ADVICE findings:

1. (high) The changefeed resolved the RENAME/DROP column map from
   the batch-END manifest while the output schema is pinned from
   the stream-start LATEST manifest. A bounded catch-up batch
   (maxversionspertrigger & co.) ending BEFORE a rename commit saw a
   batch-end manifest with no colmap entry for the pre-rename groups,
   so their old-named file columns couldn't route to the pinned
   new-name fields and were silently emitted as NULL. Now: the colmap
   is pinned WITH the schema and overlaid on the batch-end map
   (pinned wins for groups present in both).
2. (medium) _read_groups' remap() applied colmap entries via
   sequential withColumnRenamed, which collides on cyclic name maps —
   the legal rename sequence a->c, b->a, c->b yields colmap
   {a:'b', b:'a'}; renaming a->b first duplicates 'b', and align()'s
   select then fails with an ambiguous-column AnalysisException,
   making the table unreadable on the JVM path (the Arrow path handled
   the same map fine, so the two read paths diverged). Now: remap is a
   one-shot projection mirroring pysource._arrow_align. The MoR
   sidecar keymap rename and snapshot_diff's rename-chain fold had the
   same sequential-rename hazard and are one-shot too.
3. (low) where-dict bound literals are interpreted in the COLUMN's
   type domain (a datetime bound on a DATE column truncates to the
   date) — internally consistent across read/count_where/agg_where but
   divergent from F.col('d') >= F.lit(datetime) semantics. Now
   documented in all three docstrings; the cross-API agreement is
   pinned here.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    VersionedTable,
    snapshot_diff,
)


def _drain_changefeed(spark, path, out, ckpt, **opts):
    from file_stream_import_spark.io.pysource import (
        TableChangefeedDataSource,
    )

    spark.dataSource.register(TableChangefeedDataSource)
    reader = spark.readStream.format("table_changefeed").option(
        "path", path
    )
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out)


class TestBoundedTriggerAcrossRename:
    """ADVICE #1 (high): a bounded catch-up batch that ends before a
    rename commit must still route pre-rename file columns to the
    pinned post-rename field names."""

    def _table(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.range(5).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("val")
            ),
            mode="overwrite",
        )
        t.commit(
            spark.range(5, 8).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("val")
            ),
            mode="append",
        )
        t.rename_column("val", "amount")
        t.commit(
            spark.range(8, 10).select(
                F.col("id").alias("k"),
                (F.col("id") * 2).alias("amount"),
            ),
            mode="append",
        )
        return t

    @pytest.mark.parametrize("reader", ["partitioned"])
    def test_one_version_per_trigger(self, spark, tmp_path, reader):
        t = self._table(spark, tmp_path)
        opts = {"maxversionspertrigger": 1}
        df = _drain_changefeed(
            spark,
            t.path,
            str(tmp_path / f"out_{reader}"),
            str(tmp_path / f"ckpt_{reader}"),
            **opts,
        )
        got = {r["k"]: r["amount"] for r in df.collect()}
        # before the fix: batches [v0,v0] and [v1,v1] end pre-rename,
        # so k 0..7 read amount=None
        assert got == {k: 2 * k for k in range(10)}

    def test_bounded_files_across_rename(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        df = _drain_changefeed(
            spark,
            t.path,
            str(tmp_path / "out_f"),
            str(tmp_path / "ckpt_f"),
            maxfilespertrigger=1,
        )
        got = {r["k"]: r["amount"] for r in df.collect()}
        assert got == {k: 2 * k for k in range(10)}

    def test_unbounded_still_green(self, spark, tmp_path):
        """The pinned-map overlay must not regress the single-batch
        backlog case test_catchup_over_rename pins."""
        t = self._table(spark, tmp_path)
        df = _drain_changefeed(
            spark,
            t.path,
            str(tmp_path / "out_u"),
            str(tmp_path / "ckpt_u"),
        )
        got = {r["k"]: r["amount"] for r in df.collect()}
        assert got == {k: 2 * k for k in range(10)}

    def test_rename_then_drop_readd_bounded(self, spark, tmp_path):
        """Tombstones survive the overlay: a column dropped and
        re-added reads NULL for pre-drop groups in every bounded
        batch, never the old file bytes."""
        t = VersionedTable(str(tmp_path / "t2"))
        t.commit(
            spark.range(4).select(
                F.col("id").alias("k"), (F.col("id") * 3).alias("x")
            ),
            mode="overwrite",
        )
        t.drop_column("x")
        t.commit(
            spark.range(4, 6).select(
                F.col("id").alias("k"), (F.col("id") * 5).alias("x")
            ),
            mode="append",
            allow_evolution=True,
        )
        df = _drain_changefeed(
            spark,
            t.path,
            str(tmp_path / "out_d"),
            str(tmp_path / "ckpt_d"),
            maxversionspertrigger=1,
        )
        got = {r["k"]: r["x"] for r in df.collect()}
        assert got == {0: None, 1: None, 2: None, 3: None, 4: 20, 5: 25}


class TestCyclicRenameMap:
    """ADVICE #2 (medium): the legal swap history a->c, b->a, c->b
    yields colmap {a:'b', b:'a'}; every read path must project it in
    one shot."""

    def _swapped(self, spark, tmp_path, name="swap"):
        t = VersionedTable(str(tmp_path / name))
        t.commit(
            spark.range(4).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).alias("a"),
                (F.col("id") * 100).alias("b"),
            ),
            mode="overwrite",
        )
        t.rename_column("a", "c")
        t.rename_column("b", "a")
        t.rename_column("c", "b")
        return t

    def test_colmap_is_cyclic(self, spark, tmp_path):
        t = self._swapped(spark, tmp_path, "probe")
        m = t._load_manifest(t.latest_version())
        maps = set(
            tuple(sorted(mp.items()))
            for mp in (m.get("colmap") or {}).values()
        )
        assert maps == {(("a", "b"), ("b", "a"))}

    def test_jvm_read_swap(self, spark, tmp_path):
        t = self._swapped(spark, tmp_path)
        rows = {
            r["k"]: (r["a"], r["b"])
            for r in t.read(spark).collect()
        }
        # current 'a' is the old file column b (and vice versa)
        assert rows == {k: (k * 100, k * 10) for k in range(4)}

    def test_arrow_path_agrees(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            VersionedTableDataSource,
        )

        t = self._swapped(spark, tmp_path, "swap_arrow")
        spark.dataSource.register(VersionedTableDataSource)
        got = {
            r["k"]: (r["a"], r["b"])
            for r in spark.read.format("versioned_table")
            .option("path", t.path)
            .load()
            .collect()
        }
        assert got == {k: (k * 100, k * 10) for k in range(4)}

    def test_swap_then_append_and_filter(self, spark, tmp_path):
        """Post-swap appends (no map) and pre-swap groups (cyclic map)
        batch into separate scans and union cleanly; predicates over
        the swapped names stay exact."""
        t = self._swapped(spark, tmp_path, "swap_mixed")
        # declared field order after the swap is (k, b, a)
        t.commit(
            spark.range(4, 6).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).alias("b"),
                (F.col("id") * 100).alias("a"),
            ),
            mode="append",
        )
        df = t.read(spark, where_expr=F.col("a") >= 300)
        rows = {r["k"]: (r["a"], r["b"]) for r in df.collect()}
        assert rows == {3: (300, 30), 4: (400, 40), 5: (500, 50)}

    def test_mor_sidecar_keymap_swap(self, spark, tmp_path):
        """Cyclic swap AFTER a merge-on-read delete: the sidecar
        keymap routes both key columns through the swap in one shot."""
        t = VersionedTable(str(tmp_path / "mor"))
        t.commit(
            spark.range(6).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).alias("a"),
                (F.col("id") * 100).alias("b"),
            ),
            mode="overwrite",
        )
        t.delete_where(
            spark,
            F.col("a") < 20,
            strategy="merge-on-read",
            key_cols=["a", "b"],
        )
        t.rename_column("a", "c")
        t.rename_column("b", "a")
        t.rename_column("c", "b")
        rows = {
            r["k"]: (r["a"], r["b"]) for r in t.read(spark).collect()
        }
        assert rows == {k: (k * 100, k * 10) for k in range(2, 6)}

    def test_snapshot_diff_across_swap(self, spark, tmp_path):
        """snapshot_diff folds the rename chain on the FROM side in
        one shot; a swap between the versions must not collide."""
        t = VersionedTable(str(tmp_path / "diff"))
        t.commit(
            spark.range(4).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).alias("a"),
                (F.col("id") * 100).alias("b"),
            ),
            mode="overwrite",
        )
        v0 = t.latest_version()
        t.rename_column("a", "c")
        t.rename_column("b", "a")
        t.rename_column("c", "b")
        # declared field order after the swap is (k, b, a)
        t.commit(
            spark.createDataFrame(
                [(9, 90, 900)], "k long, b long, a long"
            ),
            mode="append",
        )
        d = snapshot_diff(t, spark, v0, t.latest_version(), "k")
        by_change = {}
        for r in d.collect():
            by_change.setdefault(r["change"], []).append(r["k"])
        # old a/b fold to the new names, so every pre-swap row's
        # payload compares equal and only the insert surfaces
        assert by_change == {"I": [9]}


class TestTemporalBoundContract:
    """ADVICE #3 (low): the documented column-type-domain contract —
    read, count_where and agg_where agree on a sub-day datetime bound
    over a DATE column (all floor it to the date)."""

    def test_three_apis_agree(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "dates"))
        rows = [
            (k, datetime.date(2020, 1, 10 + k), float(k))
            for k in range(6)
        ]
        t.commit(
            spark.createDataFrame(rows, "k long, d date, v double"),
            mode="overwrite",
        )
        bound = datetime.datetime(2020, 1, 12, 12, 0)  # noon
        w = {"d": (bound, None)}
        got = sorted(r["k"] for r in t.read(spark, where=w).collect())
        # floored to 2020-01-12 => k >= 2 (native Spark datetime
        # comparison would keep k >= 3 — the documented divergence)
        assert got == [2, 3, 4, 5]
        assert t.count_where(spark, where=w) == 4
        agg = t.agg_where(spark, "v", ops=("count", "sum"), where=w)
        assert agg["count"] == 4 and agg["sum"] == 2 + 3 + 4 + 5

    def test_docstrings_state_the_contract(self):
        for fn in (
            VersionedTable.read,
            VersionedTable.count_where,
            VersionedTable.agg_where,
        ):
            assert "type domain" in fn.__doc__
