"""Round-9: incremental bin-packing compaction (VersionedTable.compact)
and the Column-predicate read surface (read(where_expr=...)).

compact() is the streaming-ingest maintenance move: the exactly-once
writer lands one small group per micro-batch, and compaction coalesces
ONLY the under-threshold groups — O(small groups), never O(table) —
while healthy groups carry by reference. It rebases over concurrent
appends (no read dependency) and conflicts only with a concurrent
rewrite of a group being compacted.

read(where_expr=...) routes an arbitrary Column predicate through
derive_prune_bounds for group pruning and applies the predicate as the
exact row filter — dict-form pruning quality on plannable predicates,
graceful full-scan on opaque ones.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    CommitConflictError,
    VersionedTable,
    merge_into,
)


def _mixed_table(spark, tmp_path):
    """One big group (100k rows, comfortably over the test threshold
    in parquet) + four tiny ones (20 rows each)."""
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(
        spark.range(100_000).select(
            F.col("id").alias("k"),
            F.lit("big").alias("src"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        ),
        mode="overwrite",
    )
    for i in range(4):
        lo = 10_000 + i * 20
        t.commit(
            spark.range(lo, lo + 20).select(
                F.col("id").alias("k"),
                F.lit(f"s{i}").alias("src"),
                F.md5(F.col("id").cast("string")).alias("pad"),
            ),
            mode="append",
        )
    return t


class TestCompact:
    def test_packs_only_small_groups(self, spark, tmp_path):
        t = _mixed_table(spark, tmp_path)
        base = t.latest_version()
        m0 = t._load_manifest(base)
        big = m0["groups"][0]
        v = t.compact(spark, min_bytes=64 << 10)
        m = t._load_manifest(v)
        assert big in m["groups"]  # the healthy group carried
        assert len(m["groups"]) == 2  # big + one packed group
        assert m["mode"] == "compact:4"
        assert t.read(spark).count() == 100_000 + 80
        # stats carried/recomputed: the packed group has a k box
        packed = next(g for g in m["groups"] if g != big)
        assert m["stats"][packed]["k"]["min"] == 10_000

    def test_noop_below_two_small(self, spark, tmp_path):
        t = _mixed_table(spark, tmp_path)
        v0 = t.compact(spark, min_bytes=64 << 10)
        # everything small is packed now: a second pass is a no-op
        assert t.compact(spark, min_bytes=1) == v0

    def test_rebases_over_concurrent_append(self, spark, tmp_path):
        """An append landing between compact's read and publish is
        preserved verbatim: the compaction rebases instead of failing
        or clobbering."""
        t = _mixed_table(spark, tmp_path)
        real_publish = VersionedTable._publish
        state = {"fired": False}

        def racing_publish(self, parent, manifest, txn=None, **kw):
            if not state["fired"] and manifest["mode"].startswith("compact"):
                state["fired"] = True
                t2 = VersionedTable(self.path)
                t2.commit(
                    spark.range(20_000, 20_050).select(
                        F.col("id").alias("k"),
                        F.lit("concurrent").alias("src"),
                        F.md5(F.col("id").cast("string")).alias("pad"),
                    ),
                    mode="append",
                )
            return real_publish(self, parent, manifest, txn=txn, **kw)

        orig = VersionedTable._publish
        VersionedTable._publish = racing_publish
        try:
            v = t.compact(spark, min_bytes=64 << 10)
        finally:
            VersionedTable._publish = orig
        assert state["fired"]
        m = t._load_manifest(v)
        assert m.get("rebased_from") is not None
        got = t.read(spark)
        assert got.filter(F.col("src") == "concurrent").count() == 50
        assert got.count() == 100_000 + 80 + 50

    def test_conflicts_with_concurrent_rewrite_of_small_group(
        self, spark, tmp_path
    ):
        """A concurrent MERGE that rewrote one of the groups being
        compacted is a TRUE conflict."""
        t = _mixed_table(spark, tmp_path)
        real_publish = VersionedTable._publish
        state = {"fired": False}

        def racing_publish(self, parent, manifest, txn=None, **kw):
            if not state["fired"] and manifest["mode"].startswith("compact"):
                state["fired"] = True
                t2 = VersionedTable(self.path)
                upd = spark.range(10_000, 10_005).select(
                    F.col("id").alias("k"),
                    F.lit("merged").alias("src"),
                    F.md5(F.col("id").cast("string")).alias("pad"),
                )
                merge_into(t2, spark, upd, key="k")
            return real_publish(self, parent, manifest, txn=txn, **kw)

        VersionedTable._publish = racing_publish
        try:
            with pytest.raises(CommitConflictError):
                t.compact(spark, min_bytes=64 << 10)
        finally:
            VersionedTable._publish = real_publish
        # the merge's result is intact; compaction lost cleanly
        assert (
            t.read(spark).filter(F.col("src") == "merged").count() == 5
        )

    def test_materializes_scoped_mor_deletes(self, spark, tmp_path):
        t = _mixed_table(spark, tmp_path)
        t.delete_where(
            spark,
            F.col("k").isin(10_001, 10_021),
            strategy="merge-on-read",
            key_cols=["k"],
        )
        v = t.compact(spark, min_bytes=64 << 10)
        m = t._load_manifest(v)
        # the entry is materialized for the compacted groups and stays
        # scoped to the untouched big group only (Iceberg sequence
        # scoping: it can't know the keys never lived there)
        big = next(
            g for g in m["groups"] if m["stats"][g]["_rows"] >= 100_000
        )
        assert [e["applies_to"] for e in m["delete_entries"]] == [[big]]
        got = sorted(
            r["k"]
            for r in t.read(spark)
            .filter(F.col("src") != "big")
            .collect()
        )
        assert 10_001 not in got and 10_021 not in got
        assert len(got) == 78

    def test_blooms_rebuilt_on_packed_group(self, spark, tmp_path):
        t = _mixed_table(spark, tmp_path)
        t.set_bloom_columns(spark, ["src"])
        v = t.compact(spark, min_bytes=64 << 10)
        m = t._load_manifest(v)
        packed = next(
            g for g in m["groups"] if "src" in (m["stats"][g].get("_bloom") or {})
            and m["stats"][g]["_rows"] == 80
        )
        assert os.path.exists(
            os.path.join(t.path, m["stats"][packed]["_bloom"]["src"]["file"])
        )


class TestWhereExpr:
    def test_prunes_like_dict_form(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        for gi in range(4):
            lo = gi * 100
            t.commit(
                spark.range(lo, lo + 100).select(F.col("id").alias("k")),
                mode="append" if gi else "overwrite",
            )
        df = t.read(spark, where_expr=F.col("k").between(120, 180))
        dirs = {
            os.path.basename(os.path.dirname(f)) for f in df.inputFiles()
        }
        assert len(dirs) == 1  # group pruning worked
        assert sorted(r["k"] for r in df.collect()) == list(
            range(120, 181)
        )

    def test_exact_on_opaque_predicate(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        for gi in range(3):
            lo = gi * 10
            t.commit(
                spark.range(lo, lo + 10).select(F.col("id").alias("k")),
                mode="append" if gi else "overwrite",
            )
        df = t.read(spark, where_expr=(F.col("k") % 7 == 0))
        assert sorted(r["k"] for r in df.collect()) == [0, 7, 14, 21, 28]

    def test_composes_with_dict_form(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        for gi in range(3):
            lo = gi * 10
            t.commit(
                spark.range(lo, lo + 10).select(F.col("id").alias("k")),
                mode="append" if gi else "overwrite",
            )
        df = t.read(
            spark,
            where={"k": (5, 25)},
            where_expr=(F.col("k") % 2 == 0),
        )
        assert sorted(r["k"] for r in df.collect()) == [
            6, 8, 10, 12, 14, 16, 18, 20, 22, 24,
        ]

    def test_bloom_point_probe_via_expr(self, spark, tmp_path):
        import hashlib

        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda tag: spark.createDataFrame(
            [
                (hashlib.md5(f"{tag}{i}".encode()).hexdigest(), tag)
                for i in range(30)
            ],
            "k string, v string",
        )
        t.commit(mk("a"), mode="overwrite")
        t.set_bloom_columns(spark, ["k"])
        t.commit(mk("b"), mode="append")
        probe = hashlib.md5(b"a7").hexdigest()
        df = t.read(spark, where_expr=F.col("k") == probe)
        # equality -> point bound -> bloom refinement path
        assert [r["v"] for r in df.collect()] == ["a"]
        dirs = {
            os.path.basename(os.path.dirname(f)) for f in df.inputFiles()
        }
        assert len(dirs) == 1


class TestMetadataOnlySizing:
    """Round-9b: group sizes ride the manifest (stats._bytes, recorded
    once at write time), so compact()'s selection never walks the data
    tree; legacy manifests without the field fall back to the walk."""

    def test_manifest_records_bytes(self, spark, tmp_path):
        t = _mixed_table(spark, tmp_path)
        m = t._load_manifest(t.latest_version())
        for g in m["groups"]:
            recorded = m["stats"][g]["_bytes"]
            d = os.path.join(t.path, g)
            actual = sum(
                os.path.getsize(os.path.join(d, n))
                for n in os.listdir(d)
                if not n.startswith(("_", "."))
            )
            assert recorded == actual > 0

    def test_compact_selection_is_metadata_only(
        self, spark, tmp_path, monkeypatch
    ):
        t = _mixed_table(spark, tmp_path)
        calls = {"n": 0}
        real = os.listdir

        def counting(p):
            # only data-group walks count; _manifests probes are exists()
            if os.path.join(t.path, "data") in str(p):
                calls["n"] += 1
            return real(p)

        monkeypatch.setattr(os, "listdir", counting)
        v = t.compact(spark, min_bytes=64 << 10)
        # the one listdir allowed is _write_groups sizing the
        # NEW packed group; the 5 existing groups were sized from stats
        assert calls["n"] <= 1
        assert len(t._load_manifest(v)["groups"]) == 2

    def test_legacy_manifest_falls_back_to_walk(self, spark, tmp_path):
        import json

        from file_stream_import_spark.io.versioned import _manifest_path

        t = _mixed_table(spark, tmp_path)
        v = t.latest_version()
        p = _manifest_path(t.path, v)
        # simulate a pre-_bytes manifest: materialize (the on-disk form
        # may be a format-2 delta) and write the stripped FULL form
        # back — a full manifest is valid at any version; the rewrite
        # changes the file's stat identity so the cache re-reads it
        m = t._load_manifest(v)
        for g in m["groups"]:
            m["stats"][g].pop("_bytes", None)
        json.dump(m, open(p, "w"))
        v2 = t.compact(spark, min_bytes=64 << 10)
        assert len(t._load_manifest(v2)["groups"]) == 2
        assert t.read(spark).count() == 100_000 + 80
