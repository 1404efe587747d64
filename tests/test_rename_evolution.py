"""Column RENAME / DROP schema evolution (VERDICT r9 #2): Iceberg's
field-identity semantics via per-group column name maps (``colmap``) —
metadata-only commits, zero data IO, no rewrite. Covers: routing reads
through renames, stats/bloom rekeying (pruning keeps working), pending
merge-on-read delete rekeying, drop tombstones (no resurrection on
re-add), carry-forward across later commits (the _publish inheritance),
rollback across a rename, time travel, and the changefeed."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    VersionedTable,
    merge_into,
)


def _mk(spark, tmp_path, n_groups=3, rows=10):
    t = VersionedTable(str(tmp_path / "t"))
    for gi in range(n_groups):
        df = spark.range(gi * rows, (gi + 1) * rows).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("val"),
            F.concat(F.lit("s"), F.col("id")).alias("tag"),
        )
        t.commit(df, mode="append" if gi else "overwrite")
    return t


class TestRename:
    def test_metadata_only_and_values_route(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        before = {
            d for d in os.listdir(os.path.join(t.path, "data"))
        }
        v = t.rename_column("val", "amount")
        after = {d for d in os.listdir(os.path.join(t.path, "data"))}
        assert before == after  # zero data IO
        df = t.read(spark)
        assert set(df.columns) == {"k", "amount", "tag"}
        got = {r["k"]: r["amount"] for r in df.collect()}
        assert got == {k: 2 * k for k in range(30)}
        # time travel to the pre-rename version keeps the OLD name
        old = t.read(spark, version=v - 1)
        assert "val" in old.columns and "amount" not in old.columns

    def test_stats_rekeyed_pruning_works(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.rename_column("k", "key")
        # groups are disjoint k-ranges; pruning on the NEW name must
        # still skip — count_where pins the classification
        total, detail = t.count_where(
            spark, where={"key": (0, 9)}, detail=True
        )
        assert total == 10
        assert detail == {"pruned": 2, "metadata": 1, "scanned": 0}

    def test_read_where_expr_new_name(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.rename_column("val", "amount")
        got = t.read(spark, where_expr=F.col("amount") >= 40)
        assert got.count() == 10

    def test_chained_renames(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.rename_column("val", "v2")
        t.rename_column("v2", "v3")
        got = {r["k"]: r["v3"] for r in t.read(spark).collect()}
        assert got == {k: 2 * k for k in range(30)}

    def test_rename_back_to_original(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.rename_column("val", "v2")
        t.rename_column("v2", "val")
        got = {r["k"]: r["val"] for r in t.read(spark).collect()}
        assert got == {k: 2 * k for k in range(30)}
        # identity maps were pruned: no lingering colmap
        m = t._load_manifest(t.latest_version())
        assert not m.get("colmap")

    def test_append_after_rename_mixes_groups(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.rename_column("val", "amount")
        t.commit(
            spark.range(30, 40).select(
                F.col("id").alias("k"),
                (F.col("id") * 2).alias("amount"),
                F.concat(F.lit("s"), F.col("id")).alias("tag"),
            ),
            mode="append",
        )
        got = {r["k"]: r["amount"] for r in t.read(spark).collect()}
        assert got == {k: 2 * k for k in range(40)}

    def test_carry_forward_through_dml(self, spark, tmp_path):
        """_publish inherits colmap on commits that know nothing about
        it: MERGE, pruned UPDATE, and MoR delete all preserve routing."""
        t = _mk(spark, tmp_path)
        t.rename_column("val", "amount")
        src = spark.createDataFrame(
            [(5, 999, "upd")], "k bigint, amount bigint, tag string"
        )
        merge_into(t, spark, src, key="k")
        t.update_where(
            spark,
            F.col("k") == 25,
            {"amount": F.lit(111)},
            prune_where="auto",
        )
        got = {r["k"]: r["amount"] for r in t.read(spark).collect()}
        assert got[5] == 999 and got[25] == 111
        assert got[12] == 24  # untouched group still routed

    def test_rename_with_pending_mor_delete(self, spark, tmp_path):
        """Delete staged on the OLD name, then rename: the sidecar
        keymap keeps the anti-join keyed correctly."""
        t = _mk(spark, tmp_path)
        t.delete_where(
            spark,
            F.col("val") < 6,
            strategy="merge-on-read",
            key_cols=["val"],
        )
        t.rename_column("val", "amount")
        got = sorted(r["amount"] for r in t.read(spark).collect())
        assert got == [2 * k for k in range(3, 30)]

    def test_rename_refuses_constraint_reference(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.add_check_constraint(spark, "val_nonneg", "val >= 0")
        with pytest.raises(ValueError, match="constraint"):
            t.rename_column("val", "amount")
        with pytest.raises(ValueError, match="constraint"):
            t.drop_column("val")
        t.drop_check_constraint("val_nonneg")
        t.rename_column("val", "amount")
        assert "amount" in t.read(spark).columns

    def test_rename_unknown_or_colliding(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        with pytest.raises(ValueError, match="no such column"):
            t.rename_column("nope", "x")
        with pytest.raises(ValueError, match="already exists"):
            t.rename_column("val", "tag")

    def test_rollback_across_rename(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        pre = t.latest_version()
        t.rename_column("val", "amount")
        t.rollback(pre)
        df = t.read(spark)
        assert "val" in df.columns and "amount" not in df.columns
        got = {r["k"]: r["val"] for r in df.collect()}
        assert got == {k: 2 * k for k in range(30)}

    def test_optimize_after_rename_materializes(self, spark, tmp_path):
        """Compaction rewrites groups under the CURRENT names; the
        rewritten groups need no colmap and read identically."""
        t = _mk(spark, tmp_path)
        t.rename_column("val", "amount")
        t.optimize(spark, target_partitions=1)
        m = t._load_manifest(t.latest_version())
        assert not m.get("colmap")
        got = {r["k"]: r["amount"] for r in t.read(spark).collect()}
        assert got == {k: 2 * k for k in range(30)}


class TestDrop:
    def test_drop_and_read(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.drop_column("val")
        df = t.read(spark)
        assert set(df.columns) == {"k", "tag"}
        assert df.count() == 30

    def test_no_resurrection_on_readd(self, spark, tmp_path):
        """DROP then re-ADD the same name: old groups read NULL, never
        the dropped bytes — the field-ID bug colmap tombstones exist
        to prevent."""
        t = _mk(spark, tmp_path)
        t.drop_column("val")
        t.commit(
            spark.range(30, 35).select(
                F.col("id").alias("k"),
                F.concat(F.lit("s"), F.col("id")).alias("tag"),
                (F.col("id") * 7).alias("val"),
            ),
            mode="append",
            allow_evolution=True,
        )
        rows = {r["k"]: r["val"] for r in t.read(spark).collect()}
        for k in range(30):
            assert rows[k] is None  # old bytes stay dead
        for k in range(30, 35):
            assert rows[k] == 7 * k

    def test_drop_then_rename_readded(self, spark, tmp_path):
        """Re-added column renames without disturbing the tombstone."""
        t = _mk(spark, tmp_path)
        t.drop_column("val")
        t.commit(
            spark.range(30, 32).select(
                F.col("id").alias("k"),
                F.concat(F.lit("s"), F.col("id")).alias("tag"),
                (F.col("id") * 7).alias("val"),
            ),
            mode="append",
            allow_evolution=True,
        )
        t.rename_column("val", "v2")
        rows = {r["k"]: r["v2"] for r in t.read(spark).collect()}
        assert rows[0] is None and rows[31] == 217

    def test_drop_refuses_mor_delete_key(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.delete_where(
            spark,
            F.col("val") < 4,
            strategy="merge-on-read",
            key_cols=["val"],
        )
        with pytest.raises(ValueError, match="merge-on-read"):
            t.drop_column("val")

    def test_drop_only_column_refused(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "one"))
        t.commit(spark.range(3).select(F.col("id").alias("k")),
                 mode="overwrite")
        with pytest.raises(ValueError, match="only column"):
            t.drop_column("k")


class TestChangefeedAcrossRename:
    def test_catchup_over_rename(self, spark, tmp_path):
        """A fresh stream from earliest over a history containing a
        rename: metadata-only commits pass the append-only contract,
        and pre-rename groups route their file columns to the current
        schema."""
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.range(5).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("val")
            ),
            mode="overwrite",
        )
        t.rename_column("val", "amount")
        t.commit(
            spark.range(5, 8).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("amount")
            ),
            mode="append",
        )
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
        got = {
            r["k"]: r["amount"] for r in spark.read.parquet(out).collect()
        }
        assert got == {k: 2 * k for k in range(8)}


class TestSnapshotDiffAcrossRename:
    def test_diff_aligns_renamed_column(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import snapshot_diff

        t = _mk(spark, tmp_path)
        v0 = t.latest_version()
        t.rename_column("val", "amount")
        merge_into(
            t,
            spark,
            spark.createDataFrame(
                [(5, 999, "upd"), (100, 1, "new")],
                "k bigint, amount bigint, tag string",
            ),
            key="k",
        )
        d = snapshot_diff(t, spark, v0, t.latest_version(), key="k")
        rows = {r["k"]: r["change"] for r in d.collect()}
        # exactly one update + one insert; the rename itself changes
        # NO row (same field, new name)
        assert rows == {5: "U", 100: "I"}

    def test_diff_pure_rename_is_empty(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import snapshot_diff

        t = _mk(spark, tmp_path)
        v0 = t.latest_version()
        t.rename_column("val", "amount")
        d = snapshot_diff(t, spark, v0, t.latest_version(), key="k")
        assert d.count() == 0


class TestWiden:
    """Metadata-only type widening (r10 ledger #3): int->long,
    float->double, decimal precision growth — per-group castmap
    routing, no rewrite."""

    def _mk_int(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / "w"))
        for gi in range(2):
            t.commit(
                spark.range(gi * 5, (gi + 1) * 5).select(
                    F.col("id").alias("k"),
                    (F.col("id") * 3).cast("int").alias("v"),
                ),
                mode="append" if gi else "overwrite",
            )
        return t

    def test_int_to_long_metadata_only(self, spark, tmp_path):
        t = self._mk_int(spark, tmp_path)
        before = set(os.listdir(os.path.join(t.path, "data")))
        t.widen_column("v", "long")
        assert set(os.listdir(os.path.join(t.path, "data"))) == before
        df = t.read(spark)
        assert dict(df.dtypes)["v"] == "bigint"
        assert {r["k"]: r["v"] for r in df.collect()} == {
            k: 3 * k for k in range(10)
        }

    def test_append_wide_after_widen(self, spark, tmp_path):
        t = self._mk_int(spark, tmp_path)
        t.widen_column("v", "long")
        big = 3_000_000_000  # does not fit in int
        t.commit(
            spark.createDataFrame([(100, big)], "k bigint, v long"),
            mode="append",
        )
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got[100] == big and got[3] == 9
        # stats-pruned read across mixed-width groups
        n = t.read(spark, where={"v": (big, None)}).count()
        assert n == 1

    def test_widen_then_rename(self, spark, tmp_path):
        t = self._mk_int(spark, tmp_path)
        t.widen_column("v", "long")
        t.rename_column("v", "val")
        df = t.read(spark)
        assert dict(df.dtypes)["val"] == "bigint"
        assert sorted(r["val"] for r in df.collect()) == [
            3 * k for k in range(10)
        ]

    def test_rename_then_widen(self, spark, tmp_path):
        t = self._mk_int(spark, tmp_path)
        t.rename_column("v", "val")
        t.widen_column("val", "long")
        df = t.read(spark)
        assert dict(df.dtypes)["val"] == "bigint"
        assert sorted(r["val"] for r in df.collect()) == [
            3 * k for k in range(10)
        ]

    def test_decimal_and_float_widenings(self, spark, tmp_path):
        from decimal import Decimal

        t = VersionedTable(str(tmp_path / "d"))
        t.commit(
            spark.createDataFrame(
                [(1, Decimal("1.25"), 1.5)],
                "k bigint, amt decimal(6,2), x float",
            ),
            mode="overwrite",
        )
        t.widen_column("amt", "decimal(20,2)")
        t.widen_column("x", "double")
        df = t.read(spark)
        types = dict(df.dtypes)
        assert types["amt"] == "decimal(20,2)" and types["x"] == "double"
        r = df.first()
        assert r["amt"] == Decimal("1.25") and r["x"] == 1.5
        # metadata aggregates still classify across the widening
        out, detail = t.agg_where(spark, "amt", detail=True)
        assert detail["metadata"] == 1
        assert out["sum"] == Decimal("1.25")

    def test_illegal_widenings_refused(self, spark, tmp_path):
        t = self._mk_int(spark, tmp_path)
        for bad in ("int", "short", "string", "double", "decimal(5,1)"):
            with pytest.raises(ValueError, match="widen|no such"):
                t.widen_column("v", bad)
        with pytest.raises(ValueError, match="no such column"):
            t.widen_column("nope", "long")

    def test_widen_drops_bloom_for_column(self, spark, tmp_path):
        t = self._mk_int(spark, tmp_path)
        t.set_bloom_columns(spark, ["v"])
        t.optimize(spark, target_partitions=1)  # rebuild groups w/ blooms
        m = t._load_manifest(t.latest_version())
        assert any(
            "v" in (st.get("_bloom") or {}) for st in m["stats"].values()
        )
        t.widen_column("v", "long")
        m2 = t._load_manifest(t.latest_version())
        assert all(
            "v" not in (st.get("_bloom") or {})
            for st in m2["stats"].values()
        )
        assert "v" not in (m2.get("bloom_cols") or [])
        # reads stay exact without the bloom
        assert t.read(spark, where={"v": (9, 9)}).count() == 1

    def test_rollback_across_widen(self, spark, tmp_path):
        t = self._mk_int(spark, tmp_path)
        pre = t.latest_version()
        t.widen_column("v", "long")
        t.rollback(pre)
        assert dict(t.read(spark).dtypes)["v"] == "int"

    def test_merge_after_widen(self, spark, tmp_path):
        t = self._mk_int(spark, tmp_path)
        t.widen_column("v", "long")
        merge_into(
            t,
            spark,
            spark.createDataFrame([(2, 999)], "k bigint, v long"),
            key="k",
        )
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got[2] == 999 and got[7] == 21

    def test_changefeed_across_widen(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = self._mk_int(spark, tmp_path)
        t.widen_column("v", "long")
        t.commit(
            spark.createDataFrame(
                [(50, 4_000_000_000)], "k bigint, v long"
            ),
            mode="append",
        )
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
        q = (
            spark.readStream.format("table_changefeed")
            .option("path", t.path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r["k"]: r["v"] for r in spark.read.parquet(out).collect()
        }
        assert got[50] == 4_000_000_000 and got[0] == 0


class TestVersionedTableSourceAcrossEvolution:
    """The versioned_table BATCH DataSource must route reads through
    the column name maps exactly like VersionedTable.read — a silent
    NULL on a renamed column (or resurrected bytes on a re-added
    dropped name) would be a wrong answer, not an error."""

    def test_rename_routes(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            VersionedTableDataSource,
        )

        spark.dataSource.register(VersionedTableDataSource)
        t = _mk(spark, tmp_path)
        t.rename_column("val", "amount")
        df = (
            spark.read.format("versioned_table")
            .option("path", t.path)
            .load()
        )
        got = {r["k"]: r["amount"] for r in df.collect()}
        assert got == {k: 2 * k for k in range(30)}

    def test_drop_readd_no_resurrection(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from file_stream_import_spark.io.pysource import (
            VersionedTableDataSource,
        )

        spark.dataSource.register(VersionedTableDataSource)
        t = _mk(spark, tmp_path)
        t.drop_column("val")
        t.commit(
            spark.range(30, 32).select(
                F.col("id").alias("k"),
                F.concat(F.lit("s"), F.col("id")).alias("tag"),
                (F.col("id") * 7).alias("val"),
            ),
            mode="append",
            allow_evolution=True,
        )
        df = (
            spark.read.format("versioned_table")
            .option("path", t.path)
            .load()
        )
        got = {r["k"]: r["val"] for r in df.collect()}
        assert got[0] is None and got[31] == 217

    def test_widen_casts(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from file_stream_import_spark.io.pysource import (
            VersionedTableDataSource,
        )

        spark.dataSource.register(VersionedTableDataSource)
        t = VersionedTable(str(tmp_path / "w"))
        t.commit(
            spark.range(3).select(
                F.col("id").alias("k"),
                F.col("id").cast("int").alias("v"),
            ),
            mode="overwrite",
        )
        t.widen_column("v", "long")
        t.commit(
            spark.createDataFrame(
                [(9, 5_000_000_000)], "k bigint, v long"
            ),
            mode="append",
        )
        df = (
            spark.read.format("versioned_table")
            .option("path", t.path)
            .load()
        )
        assert dict(df.dtypes)["v"] == "bigint"
        got = {r["k"]: r["v"] for r in df.collect()}
        assert got[9] == 5_000_000_000 and got[2] == 2

    def test_bounds_on_renamed_column(self, spark, tmp_path):
        from file_stream_import_spark.io.pysource import (
            VersionedTableDataSource,
        )

        spark.dataSource.register(VersionedTableDataSource)
        t = _mk(spark, tmp_path)
        t.rename_column("val", "amount")
        df = (
            spark.read.format("versioned_table")
            .option("path", t.path)
            .option("min.amount", "40")
            .load()
        )
        assert df.count() == 10  # stats rekeyed: bounds prune + filter


class TestApplyChangesAcrossEvolution:
    def test_cdc_after_rename_and_widen(self, spark, tmp_path):
        """The CDC apply path (one file-pruned rewrite) composes with
        both evolution kinds: pre-evolution groups route through
        colmap/castmap, the changelog lands under the current schema."""
        from pyspark.sql import functions as F

        from file_stream_import_spark.io.versioned import apply_changes

        t = VersionedTable(str(tmp_path / "t"))
        for gi in range(2):
            t.commit(
                spark.range(gi * 5, (gi + 1) * 5).select(
                    F.col("id").alias("k"),
                    (F.col("id") * 2).cast("int").alias("val"),
                ),
                mode="append" if gi else "overwrite",
            )
        t.rename_column("val", "amount")
        t.widen_column("amount", "long")
        changes = spark.createDataFrame(
            [
                (3, 4_000_000_000, "U"),
                (50, 7, "I"),
                (8, 0, "D"),
            ],
            "k bigint, amount long, op string",
        )
        apply_changes(t, spark, changes, key="k")
        got = {r["k"]: r["amount"] for r in t.read(spark).collect()}
        assert got[3] == 4_000_000_000
        assert got[50] == 7
        assert 8 not in got
        assert got[7] == 14  # untouched pre-evolution row still routed


class TestSnapshotDiffAcrossWiden:
    def test_diff_aligns_widened_column(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from file_stream_import_spark.io.versioned import snapshot_diff

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.range(5).select(
                F.col("id").alias("k"),
                F.col("id").cast("int").alias("v"),
            ),
            mode="overwrite",
        )
        v0 = t.latest_version()
        t.widen_column("v", "long")
        merge_into(
            t,
            spark,
            spark.createDataFrame(
                [(2, 6_000_000_000), (9, 1)], "k bigint, v long"
            ),
            key="k",
        )
        d = snapshot_diff(t, spark, v0, t.latest_version(), key="k")
        rows = {r["k"]: r["change"] for r in d.collect()}
        # the widen itself changes no row (int 2 == long 2 under
        # union coercion); only the merge's update + insert surface
        assert rows == {2: "U", 9: "I"}
