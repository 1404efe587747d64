"""Bloom runtime-filter operator: no false negatives ever, bounded false
positives at the design point, and exact-join cleanup under a
deliberately undersized bitmap."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from file_stream_import_spark.operators.bloom import (
    bloom_build,
    bloom_filtered_semi_join,
    bloom_might_contain,
)


@pytest.fixture(scope="module")
def keyed(spark):
    dim = spark.range(0, 200).select((F.col("id") * 7).alias("k"))
    fact = spark.range(0, 5000).select(F.col("id").alias("k"))
    return dim, fact


def test_no_false_negatives(spark, keyed):
    dim, fact = keyed
    bitmap = bloom_build(dim, "k")
    passed = fact.filter(bloom_might_contain(bitmap, F.col("k"))).select("k")
    members = {r.k for r in dim.collect()}
    got = {r.k for r in passed.collect()}
    assert members & set(range(5000)) <= got, "a member key was dropped"


def test_false_positive_rate_at_design_point(spark, keyed):
    dim, fact = keyed
    # 200 keys in 65536 bits (~327 bits/key) with 2 hashes: fp well
    # under 1%; allow 2% slack for hash clustering on this tiny domain.
    bitmap = bloom_build(dim, "k")
    passed = fact.filter(bloom_might_contain(bitmap, F.col("k"))).count()
    true_hits = 5000 // 7 + 1
    assert passed - true_hits <= 0.02 * 5000


def test_undersized_bitmap_still_exact(spark, keyed):
    """With m_bits=256 for 200 keys the filter MUST false-positive
    heavily — the exact semi-join behind it must still produce the
    plain-join answer."""
    dim, fact = keyed
    out = bloom_filtered_semi_join(fact, dim, "k", "k", m_bits=256)
    expect = fact.join(
        dim.withColumnRenamed("k", "dk").distinct(),
        F.col("k") == F.col("dk"),
        "left_semi",
    )
    assert sorted(r.k for r in out.collect()) == sorted(
        r.k for r in expect.collect()
    )
    # and the tiny bitmap really does let false positives through,
    # proving the cleanup join is load-bearing in this test
    bitmap = bloom_build(dim, "k", m_bits=256)
    passed = fact.filter(
        bloom_might_contain(bitmap, F.col("k"), m_bits=256)
    ).count()
    assert passed > out.count()


def test_prefilter_is_projection_before_join(spark, keyed):
    """Plan shape: the bloom membership test must sit in a Filter above
    the fact scan (pre-exchange), not inside/after the semi-join."""
    dim, fact = keyed
    plan = bloom_filtered_semi_join(
        fact, dim, "k", "k"
    )._jdf.queryExecution().optimizedPlan().toString()
    join_pos = plan.find("Join LeftSemi")
    filt_pos = plan.find("xxhash64")
    assert join_pos != -1 and filt_pos != -1
    assert filt_pos > join_pos, (
        "bloom filter should appear BELOW the semi join in the plan tree "
        f"(printed after it):\n{plan}"
    )


def test_empty_dim_yields_empty_result(spark, keyed):
    """An empty build side → all-zero bitmap → every probe misses; the
    composition returns the plain semi-join's (empty) answer without
    errors."""
    dim, fact = keyed
    empty = dim.filter(F.lit(False))
    assert bloom_filtered_semi_join(fact, empty, "k", "k").count() == 0


def test_bad_m_bits_fails_loudly(spark, keyed):
    import pytest as _pytest

    dim, _ = keyed
    with _pytest.raises(ValueError, match="multiple of 64"):
        bloom_build(dim, "k", m_bits=1000)


class TestBloomPrunedDml:
    """r10: auto-pruned DELETE/UPDATE consult the per-group blooms for
    POINT/IN-set predicates (read()'s refinement applied to the
    copy-on-write touch set) — on a hash-keyed table, where every
    min/max box spans the whole key space, a one-key delete must
    rewrite ONE group, not the table."""

    def _hash_table(self, spark, tmp_path, n_groups=6, rows=40):
        from pyspark.sql import functions as F

        from file_stream_import_spark.io.versioned import VersionedTable

        t = VersionedTable(str(tmp_path / "t"))
        base = spark.range(n_groups * rows).select(
            F.md5(F.col("id").cast("string")).alias("uid"),
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
        )
        t.commit(base.filter(F.col("k") < rows), mode="overwrite")
        # declare blooms after the first commit; every LATER commit's
        # groups carry them (group 0 is rebuilt below via cluster so
        # all six groups end up bloom'd)
        t.set_bloom_columns(spark, ["uid"])
        for gi in range(1, n_groups):
            t.commit(
                base.filter(
                    F.col("k").between(gi * rows, (gi + 1) * rows - 1)
                ),
                mode="append",
            )
        t.optimize(spark, cluster_by="k", target_groups=n_groups)
        m = t._load_manifest(t.latest_version())
        assert all(
            "uid" in (st.get("_bloom") or {})
            for st in m["stats"].values()
        )
        return t

    def test_point_delete_rewrites_one_group(self, spark, tmp_path):
        import hashlib

        from pyspark.sql import functions as F

        t = self._hash_table(spark, tmp_path)
        uid = hashlib.md5(b"100").hexdigest()  # k=100 lives in group 2
        before = set(
            t._load_manifest(t.latest_version())["groups"]
        )
        t.delete_where(
            spark, F.col("uid") == uid, prune_where="auto"
        )
        after = set(t._load_manifest(t.latest_version())["groups"])
        # exactly one group rewritten: 5 carried by reference
        # (b195d10:tools/ab_bloom_dml.py at sf0.1 orders: 15/16 groups
        # carried with blooms, 0/16 without)
        assert len(before & after) == 5
        got = t.read(spark)
        assert got.count() == 6 * 40 - 1
        assert got.filter(F.col("uid") == uid).count() == 0

    def test_in_set_update_rewrites_member_groups(self, spark, tmp_path):
        import hashlib

        from pyspark.sql import functions as F

        t = self._hash_table(spark, tmp_path)
        # two keys from the SAME group (0..39 -> group 0)
        uids = [hashlib.md5(str(k).encode()).hexdigest() for k in (3, 17)]
        before = set(t._load_manifest(t.latest_version())["groups"])
        t.update_where(
            spark,
            F.col("uid").isin(*uids),
            {"v": F.lit(-1)},
            prune_where="auto",
        )
        after = set(t._load_manifest(t.latest_version())["groups"])
        assert len(before & after) == 5
        got = {r["k"]: r["v"] for r in t.read(spark).collect()}
        assert got[3] == -1 and got[17] == -1 and got[50] == 100

    def test_absent_key_is_metadata_noop(self, spark, tmp_path):
        from pyspark.sql import functions as F

        t = self._hash_table(spark, tmp_path)
        v_before = t.latest_version()
        t.delete_where(
            spark,
            F.col("uid") == "0" * 32,  # provably absent everywhere
            prune_where="auto",
        )
        # every group bloom-pruned: no data write, no new version
        assert t.latest_version() == v_before
        assert t.read(spark).count() == 240
