"""Incremental clustering (r13 continuation,
VersionedTable.optimize_incremental): after one full
optimize(cluster_by=...), each run rewrites ONLY the groups appended
since the last clustering — O(new data), not O(table) — carrying every
already-clustered group by reference and extending the inherited
``clustered`` manifest record. The LSM answer to OPTIMIZE ZORDER."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    VersionedTable,
    table_changes_cdf,
)


def _mk(spark, tmp_path, n=4000):
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(
        spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        ),
        mode="overwrite",
    )
    return t


def _rows(spark, t):
    return sorted((r["k"], r["v"]) for r in t.read(spark).collect())


def _append(spark, t, lo, n=1000):
    t.commit(
        spark.range(lo, lo + n).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        ),
        mode="append",
    )


class TestOptimizeIncremental:
    def test_rewrites_only_the_unclustered_tail(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.optimize(spark, cluster_by="k", target_groups=4)
        m0 = t._load_manifest(t.latest_version())
        clustered0 = list(m0["clustered"]["groups"])
        before = _rows(spark, t)
        _append(spark, t, 10_000)
        _append(spark, t, 20_000)
        after_appends = _rows(spark, t)
        v = t.optimize_incremental(spark)
        m = t._load_manifest(v)
        assert str(m["mode"]) == "optimize_delta:cluster_by=k"
        # every originally-clustered group carried BY REFERENCE
        assert set(clustered0) <= set(m["groups"])
        # only the two appended groups were rewritten
        assert sorted(m["added"]) == sorted(
            set(m["groups"]) - set(clustered0)
        )
        # rows untouched
        assert _rows(spark, t) == after_appends
        assert set(before) <= set(after_appends)
        # the clustered record now covers everything
        assert set(m["clustered"]["groups"]) == set(m["groups"])

    def test_new_layer_groups_are_range_disjoint(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.optimize(spark, cluster_by="k", target_groups=4)
        _append(spark, t, 10_000, n=4000)
        v = t.optimize_incremental(spark, target_groups=4)
        m = t._load_manifest(v)
        boxes = sorted(
            (
                int(m["stats"][g]["k"]["min"]),
                int(m["stats"][g]["k"]["max"]),
            )
            for g in m["added"]
        )
        assert len(boxes) >= 2
        for (lo1, hi1), (lo2, _hi2) in zip(boxes, boxes[1:]):
            assert hi1 < lo2  # tight, non-overlapping layer

    def test_point_probe_scans_one_group_per_layer(
        self, spark, tmp_path
    ):
        t = _mk(spark, tmp_path)
        t.optimize(spark, cluster_by="k", target_groups=4)
        for i in range(3):
            _append(spark, t, 10_000 + i * 1000)
            t.optimize_incremental(spark, target_groups=2)
        total, detail = t.count_where(
            spark, where={"k": (10_100, 10_200)}, detail=True
        )
        assert total == 101
        # 4 base + 3 layers x 2 = 10 groups; the probe touches at most
        # one group per layer that can contain the range
        assert detail["scanned"] + detail["metadata"] <= 3
        assert detail["pruned"] >= 7

    def test_noop_when_converged(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.optimize(spark, cluster_by="k", target_groups=2)
        v = t.latest_version()
        assert t.optimize_incremental(spark) == v
        assert t.latest_version() == v  # no version minted

    def test_requires_a_prior_full_optimize(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=100)
        with pytest.raises(ValueError, match="optimize"):
            t.optimize_incremental(spark)

    def test_zorder_record_and_multicol_layer(self, spark, tmp_path):
        t = _mk(spark, tmp_path)
        t.optimize(spark, cluster_by=["k", "v"], target_groups=4)
        m0 = t._load_manifest(t.latest_version())
        assert m0["clustered"]["cols"] == "k,v"
        _append(spark, t, 10_000)
        v = t.optimize_incremental(spark, target_groups=2)
        m = t._load_manifest(v)
        assert str(m["mode"]) == "optimize_delta:cluster_by=k,v"
        for g in m["added"]:
            assert "__zkey" not in (m["stats"][g] or {})

    def test_cdf_diffs_incremental_commit_to_zero_rows(
        self, spark, tmp_path
    ):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame(
                [(i, i * 3) for i in range(50)], "k long, v long"
            ),
            mode="overwrite",
        )
        t.optimize(spark, cluster_by="k", target_groups=2)
        t.commit(
            spark.createDataFrame(
                [(i, i * 3) for i in range(100, 120)], "k long, v long"
            ),
            mode="append",
        )
        v = t.optimize_incremental(spark, target_groups=1)
        # pure rearrangement: the row-level CDF of the clustering
        # commit is EMPTY, exactly like compact/optimize
        assert table_changes_cdf(t, spark, v, v, key="k").count() == 0

    def test_record_survives_unrelated_commits(self, spark, tmp_path):
        t = _mk(spark, tmp_path, n=500)
        t.optimize(spark, cluster_by="k", target_groups=2)
        _append(spark, t, 10_000, n=200)
        t.rename_column("v", "w")
        _append_df = spark.range(20_000, 20_100).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("w")
        )
        t.commit(_append_df, mode="append")
        v = t.optimize_incremental(spark, target_groups=1)
        m = t._load_manifest(v)
        assert set(m["clustered"]["groups"]) == set(m["groups"])
        assert _rows_w(spark, t) == sorted(
            [(k, k * 3) for k in range(500)]
            + [(k, k * 3) for k in range(10_000, 10_200)]
            + [(k, k * 3) for k in range(20_000, 20_100)]
        )


def _rows_w(spark, t):
    return sorted((r["k"], r["w"]) for r in t.read(spark).collect())


class TestIncrementalWithBlooms:
    def test_new_layer_groups_carry_blooms(self, spark, tmp_path):
        # the new layer goes through the same clustering shuffle and
        # group writer as the full optimize, blooms included
        t = VersionedTable(str(tmp_path / "tb"))
        t.commit(
            spark.range(2000).select(
                F.col("id").alias("k"),
                F.md5(F.col("id").cast("string")).alias("uid"),
            ),
            mode="overwrite",
        )
        t.set_bloom_columns(spark, ["uid"])
        t.optimize(spark, cluster_by="k", target_groups=2)
        t.commit(
            spark.range(5000, 6000).select(
                F.col("id").alias("k"),
                F.md5(F.col("id").cast("string")).alias("uid"),
            ),
            mode="append",
        )
        v = t.optimize_incremental(spark, target_groups=1)
        m = t._load_manifest(v)
        for g in m["added"]:
            assert "uid" in (m["stats"][g].get("_bloom") or {})
        # a point lookup through the bloom-aware read path still finds
        # exactly the row (pruning behavior itself is test_bloom*'s
        # territory; this pins that the layer's blooms are USABLE)
        probe = t.read(spark).filter(F.col("k") == 5_500).select(
            "uid"
        ).first()[0]
        assert t.read(spark, where={"uid": [probe]}).count() == 1
