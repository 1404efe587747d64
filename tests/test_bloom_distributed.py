"""Bloom probes at many groups: the executor and hash-join regimes.

Every bloom membership question (the read-path point/IN probe
_bloom_prune_where, the MERGE touch test _bloom_touched) goes through
one kernel, _bloom_maybe, with two regimes:

* few groups  → driver numpy over each sidecar (zero extra Spark jobs);
* many groups → sidecar scan + mapInPandas: each sidecar is opened and
  bit-tested on an EXECUTOR (the files are opened directly — Hadoop's
  hidden-file filter drops the ``_bloom_*`` names), only a packed
  maybe-bitmap per (group, column) comes back;

and oversized touch-test deltas take the distributed hash-join path
(_bloom_touched_join), whose sparse bloom-word table comes from the
same executor-side sidecar scan.

These tests drive each regime against the same ground truth and prove
the many-group paths never open a sidecar on the driver (monkeypatched
_bloom_words raises — executor kernels run in worker processes and
don't see the patch, so any driver-side call trips it).
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

import file_stream_import_spark.io.versioned as V
from file_stream_import_spark.io.versioned import (
    VersionedTable,
    _split_touched_groups,
    merge_into,
)


def _k(tag: str, i: int) -> str:
    return hashlib.md5(f"{tag}{i}".encode()).hexdigest()


def _forbid_driver_sidecar_reads(monkeypatch):
    """Every bloom probe must take the executor-side path: box pruning
    can narrow candidates below the production threshold (64), so pin
    it to 0 — and trip on any driver-side sidecar open."""

    def boom(*a, **kw):
        raise AssertionError(
            "driver-side _bloom_words call on the many-groups path"
        )

    monkeypatch.setattr(V, "_BLOOM_DRIVER_MAX_GROUPS", 0)
    monkeypatch.setattr(V, "_BLOOM_DRIVER_MAX_BYTES", 0)
    monkeypatch.setattr(V, "_bloom_words", boom)


@pytest.fixture(scope="module")
def big_table(spark, tmp_path_factory):
    """A 66-group bloom'd table of md5 string keys (every group's
    lexical box spans the key space — only blooms can prune). Built
    once per module: 66 commits with automatic bloom builds."""
    t = VersionedTable(str(tmp_path_factory.mktemp("bloomdist") / "t"))
    mk = lambda gi: spark.createDataFrame(
        [(_k(f"g{gi}-", i), gi) for i in range(8)], "k string, g int"
    )
    t.commit(mk(0), mode="overwrite")
    t.set_bloom_columns(spark, ["k"])
    for gi in range(1, 66):
        t.commit(mk(gi), mode="append")
    m = t._load_manifest(t.latest_version())
    assert len(m["groups"]) == 66 > V._BLOOM_DRIVER_MAX_GROUPS
    return t


class TestManyGroupsTouchTest:
    def test_merge_touch_is_distributed_and_exact(
        self, spark, big_table, monkeypatch
    ):
        """A 3-key merge into 66 bloom'd groups: the touch test runs
        the executor-side probe (no driver sidecar read), finds the
        right groups, and the merge result is exact."""
        t = big_table
        m = t._load_manifest(t.latest_version())
        types = {"k": t.read(spark).schema["k"].dataType,
                 "g": t.read(spark).schema["g"].dataType}
        # keys living in groups 5, 40, 63
        upd = spark.createDataFrame(
            [(_k("g5-", 2), -5), (_k("g40-", 7), -40), (_k("g63-", 0), -63)],
            "k string, g int",
        )
        _forbid_driver_sidecar_reads(monkeypatch)
        touched, untouched, _ = _split_touched_groups(
            m, upd, ["k"], types, table_path=t.path
        )
        # every true home group is touched (no false negatives); blooms
        # may false-positive a few extras but never approach all 66
        homes = {5, 40, 63}
        touched_gs = {
            int(r["g"])
            for g in touched
            for r in spark.read.parquet(os.path.join(t.path, g))
            .select("g").distinct().collect()
        }
        assert homes <= touched_gs
        assert len(touched) < 10
        assert len(touched) + len(untouched) == 66

    def test_merge_lands_correctly_at_66_groups(
        self, spark, big_table, monkeypatch
    ):
        t = big_table
        base = t.latest_version()
        upd = spark.createDataFrame(
            [(_k("g7-", 3), 10_007), (_k("new-", 1), 10_999)],
            "k string, g int",
        )
        _forbid_driver_sidecar_reads(monkeypatch)
        v = merge_into(t, spark, upd, key="k", expected_parent=base)
        got = {r["k"]: r["g"] for r in t.read(spark, version=v).collect()}
        assert got[_k("g7-", 3)] == 10_007      # updated in place
        assert got[_k("new-", 1)] == 10_999     # inserted
        assert len(got) == 66 * 8 + 1
        # O(delta): untouched groups carried by reference
        m_new = t._load_manifest(v)
        m_old = t._load_manifest(base)
        assert len(set(m_new["groups"]) & set(m_old["groups"])) >= 60

    def test_no_matching_keys_touches_nothing(
        self, spark, big_table, monkeypatch
    ):
        t = big_table
        m = t._load_manifest(t.latest_version())
        types = {"k": t.read(spark).schema["k"].dataType,
                 "g": t.read(spark).schema["g"].dataType}
        upd = spark.createDataFrame(
            [(_k("ghost-", i), -1) for i in range(5)], "k string, g int"
        )
        _forbid_driver_sidecar_reads(monkeypatch)
        touched, _, _ = _split_touched_groups(
            m, upd, ["k"], types, table_path=t.path
        )
        assert len(touched) <= 2  # fp budget only


class TestManyGroupsPointRead:
    def test_in_set_read_prunes_distributed(
        self, spark, big_table, monkeypatch
    ):
        t = big_table
        _forbid_driver_sidecar_reads(monkeypatch)
        probe = [_k("g11-", 4), _k("g52-", 6)]
        df = t.read(spark, where={"k": probe})
        got = sorted((r["k"], r["g"]) for r in df.collect())
        assert got == sorted(zip(probe, [11, 52]))
        touched_groups = {
            os.path.basename(os.path.dirname(f)) for f in df.inputFiles()
        }
        assert len(touched_groups) < 10  # 66 candidates, ~2 survive

    def test_absent_key_prunes_everything(
        self, spark, big_table, monkeypatch
    ):
        t = big_table
        _forbid_driver_sidecar_reads(monkeypatch)
        ghost = _k("nowhere-", 0)
        df = t.read(spark, where={"k": (ghost, ghost)})
        assert len(df.inputFiles()) <= 2  # fp budget only
        assert df.count() == 0


class TestRegimeParity:
    """The three regimes agree on the same table and updates."""

    def _small_table(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        mk = lambda tag: spark.createDataFrame(
            [(_k(tag, i), tag) for i in range(30)], "k string, v string"
        )
        t.commit(mk("a"), mode="overwrite")
        t.set_bloom_columns(spark, ["k"])
        for tag in ("b", "c", "d"):
            t.commit(mk(tag), mode="append")
        return t

    def test_driver_vs_distributed_probe_vs_join(
        self, spark, tmp_path, monkeypatch
    ):
        t = self._small_table(spark, tmp_path)
        m = t._load_manifest(t.latest_version())
        stats, groups = m["stats"], list(m["groups"])
        upd = spark.createDataFrame(
            [(_k("b", 3), "x"), (_k("d", 9), "x"), (_k("zz", 1), "x")],
            "k string, v string",
        )
        ref = V._bloom_touched(upd, ["k"], stats, groups, t.path)
        monkeypatch.setattr(V, "_BLOOM_DRIVER_MAX_GROUPS", 0)
        monkeypatch.setattr(V, "_BLOOM_DRIVER_MAX_BYTES", 0)
        via_probe = V._bloom_touched(upd, ["k"], stats, groups, t.path)
        monkeypatch.setattr(V, "_BLOOM_DRIVER_MAX_ROWS", 1)
        via_join = V._bloom_touched(upd, ["k"], stats, groups, t.path)
        # the other regimes are hash-exact mirrors of the driver regime
        assert via_probe == ref
        assert via_join == ref
        # ground truth: the b and d groups are in every regime's answer
        homes = {
            g
            for g in groups
            if {r["v"] for r in
                spark.read.parquet(os.path.join(t.path, g)).select("v")
                .distinct().collect()} & {"b", "d"}
        }
        assert homes <= ref

    def test_empty_updates_all_regimes(self, spark, tmp_path, monkeypatch):
        t = self._small_table(spark, tmp_path)
        m = t._load_manifest(t.latest_version())
        stats, groups = m["stats"], list(m["groups"])
        empty = spark.createDataFrame([], "k string, v string")
        assert V._bloom_touched(empty, ["k"], stats, groups, t.path) == set()
        monkeypatch.setattr(V, "_BLOOM_DRIVER_MAX_ROWS", -1)
        # oversized-delta path with an empty hash side: empty result
        assert V._bloom_touched(empty, ["k"], stats, groups, t.path) == set()


class TestNdvSizing:
    """Round-9: bloom filters size by DISTINCT keys, not rows — a
    duplicated-key column gets a smaller sidecar at the SAME fpp
    behavior (fpp depends only on distinct insertions)."""

    def test_duplicated_key_gets_smaller_sidecar(self, spark, tmp_path):
        from pyspark.sql import functions as F

        n = 40_000
        uniq = spark.range(n).select(
            F.md5(F.col("id").cast("string")).alias("k")
        )
        dup = spark.range(n).select(
            F.md5((F.col("id") % 100).cast("string")).alias("k")
        )
        tu = VersionedTable(str(tmp_path / "uniq"))
        tu.commit(uniq, mode="overwrite")
        tu.set_bloom_columns(spark, ["k"])
        td = VersionedTable(str(tmp_path / "dup"))
        td.commit(dup, mode="overwrite")
        td.set_bloom_columns(spark, ["k"])

        def m_of(t):
            m = t._load_manifest(t.latest_version())
            (g,) = m["groups"]
            return int(m["stats"][g]["_bloom"]["k"]["m"])

        m_uniq, m_dup = m_of(tu), m_of(td)
        # 40k distinct keys at 10 bits/key -> 2^19; 100 distinct keys
        # -> the 2^13 floor: sizing followed NDV, not the row count
        assert m_uniq >= (1 << 19)
        assert m_dup == V._BLOOM_MIN_BITS
        # and the small filter is exact on its key set: every present
        # key is found, absent keys are (near-always) pruned
        import hashlib

        present = hashlib.md5(b"42").hexdigest()
        got = td.read(spark, where={"k": (present, present)})
        assert got.count() == n // 100
        absent = hashlib.md5(b"ghost").hexdigest()
        assert (
            td.read(spark, where={"k": (absent, absent)}).count() == 0
        )

    def test_commit_path_sizes_by_ndv_too(self, spark, tmp_path):
        """Automatic bloom builds on commit (bloom_cols inherited from
        the parent manifest) also observe NDV in the write job."""
        from pyspark.sql import functions as F

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.range(10).select(
                F.md5(F.col("id").cast("string")).alias("k")
            ),
            mode="overwrite",
        )
        t.set_bloom_columns(spark, ["k"])
        # 50k rows, 50 distinct keys: NDV sizing -> the floor
        t.commit(
            spark.range(50_000).select(
                F.md5((F.col("id") % 50).cast("string")).alias("k")
            ),
            mode="append",
        )
        m = t._load_manifest(t.latest_version())
        g_new = m["added"][0]
        assert int(m["stats"][g_new]["_bloom"]["k"]["m"]) == V._BLOOM_MIN_BITS
