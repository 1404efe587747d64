"""OPTIMIZE (clustered) vs concurrent writers — r9b: the clustering
rewrite rebases over commits that only APPENDED groups (Delta's
OPTIMIZE-vs-append rule: continuous ingest and periodic clustering
compose), and still conflicts with anything that rewrote a base group
or put row-level intent (merge-on-read delete entries) in play.

Interleaving technique: patch VersionedTable._publish so the racing
commit lands exactly between optimize's read and its publish — the
same deterministic race harness as test_compact_where_expr.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    CommitConflictError,
    VersionedTable,
    merge_into,
)


def _table(spark, tmp_path) -> VersionedTable:
    t = VersionedTable(str(tmp_path / "t"))
    for i in range(2):
        t.commit(
            spark.range(i * 5_000, (i + 1) * 5_000).select(
                F.col("id").alias("k"),
                (F.col("id") % 97).alias("ck"),
                F.lit("base").alias("src"),
            ),
            mode="append" if i else "overwrite",
        )
    return t


def _race(spark, t, action):
    """Run ``action`` the first time an optimize manifest publishes."""
    real_publish = VersionedTable._publish
    state = {"fired": False}

    def racing_publish(self, parent, manifest, txn=None, **kw):
        if not state["fired"] and str(manifest.get("mode", "")).startswith(
            "optimize"
        ):
            state["fired"] = True
            action(VersionedTable(self.path))
        return real_publish(self, parent, manifest, txn=txn, **kw)

    VersionedTable._publish = racing_publish
    try:
        yield_v = t.optimize(spark, cluster_by=["k", "ck"], target_groups=4)
    finally:
        VersionedTable._publish = real_publish
    assert state["fired"]
    return yield_v


class TestOptimizeClusterConcurrency:
    def test_rebases_over_concurrent_append(self, spark, tmp_path):
        t = _table(spark, tmp_path)

        def append(t2):
            t2.commit(
                spark.range(10_000, 10_040).select(
                    F.col("id").alias("k"),
                    (F.col("id") % 97).alias("ck"),
                    F.lit("concurrent").alias("src"),
                ),
                mode="append",
            )

        gen = _race(spark, t, append)
        v = gen
        m = t._load_manifest(v)
        assert m.get("rebased_from") is not None
        # the appended group carried VERBATIM (by group id, not re-read)
        appended_added = t._load_manifest(v - 1)["added"]
        assert all(g in m["groups"] for g in appended_added)
        got = t.read(spark, version=v)
        assert got.count() == 10_000 + 40
        assert got.filter(F.col("src") == "concurrent").count() == 40
        # clustering still bought skipping on the base rows: a narrow
        # k-box read scans fewer groups than the manifest holds
        narrow = t.read(spark, version=v, where={"k": (10, 20)})
        import os

        scanned = {
            os.path.basename(os.path.dirname(f))
            for f in narrow.inputFiles()
        }
        assert len(scanned) < len(m["groups"])
        assert narrow.count() == 11

    def test_conflicts_with_concurrent_merge(self, spark, tmp_path):
        t = _table(spark, tmp_path)

        def merge(t2):
            merge_into(
                t2,
                spark,
                spark.createDataFrame(
                    [(3, 3, "merged")], "k long, ck long, src string"
                ),
                key="k",
            )

        with pytest.raises(CommitConflictError):
            _race(spark, t, merge)
        # the merge won; optimize lost cleanly and changed nothing
        assert t.read(spark).filter(F.col("src") == "merged").count() == 1
        assert t.read(spark).count() == 10_000

    def test_conflicts_with_concurrent_mor_delete(self, spark, tmp_path):
        t = _table(spark, tmp_path)

        def mor_delete(t2):
            t2.delete_where(
                spark,
                F.col("k") < 10,
                strategy="merge-on-read",
                key_cols=["k"],
            )

        with pytest.raises(CommitConflictError):
            _race(spark, t, mor_delete)
        # the delete's row-level intent survived intact
        assert t.read(spark).count() == 10_000 - 10
