"""The one Bloom membership kernel (_bloom_maybe) at default-tier scale.

Point/IN probes (_bloom_prune_where) and touch tests (_bloom_touched)
share one bit test with two regimes — driver numpy and executor
mapInPandas — plus the hash-join path for oversized touch deltas. The
regimes are forced through their module thresholds on an 8-group
table and checked against ground truth; a sidecar whose size
disagrees with its manifest ``m`` must read "maybe present" in every
regime; and the driver regime's Spark job count is pinned.
"""

from __future__ import annotations

import hashlib
import os
import uuid

import pytest

import file_stream_import_spark.io.versioned as V
from file_stream_import_spark.io.versioned import VersionedTable, merge_into

N_GROUPS = 8


def _h(tag: str) -> str:
    return hashlib.md5(tag.encode()).hexdigest()


def _k(gi: int, i: int) -> str:
    return _h(f"k{gi}-{i}")


def _u(gi: int, i: int) -> str:
    return _h(f"u{gi}-{i}")


GHOST = _h("nowhere")


def _force(monkeypatch, regime: str) -> None:
    if regime in ("executor", "join"):
        monkeypatch.setattr(V, "_BLOOM_DRIVER_MAX_GROUPS", 0)
        monkeypatch.setattr(V, "_BLOOM_DRIVER_MAX_BYTES", 0)
    if regime == "join":
        monkeypatch.setattr(V, "_BLOOM_DRIVER_MAX_ROWS", 0)


def _home_of(m: dict) -> dict:
    """group index -> group, from the single-valued ``g`` column's
    exact min/max stats."""
    return {int(m["stats"][g]["g"]["min"]): g for g in m["groups"]}


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """8 groups of 8 rows, md5 keys bloom'd on two columns (every
    lexical box spans the key space — only blooms can prune)."""
    t = VersionedTable(str(tmp_path_factory.mktemp("bloomprobe") / "t"))
    for gi in range(N_GROUPS):
        t.commit(
            spark.createDataFrame(
                [(_k(gi, i), _u(gi, i), gi) for i in range(8)],
                "k string, u string, g int",
            ),
            mode="append" if gi else "overwrite",
        )
        if gi == 0:
            t.set_bloom_columns(spark, ["k", "u"])
    m = t._load_manifest(t.latest_version())
    assert len(m["groups"]) == N_GROUPS
    return t, m


class TestRegimeParity:
    @pytest.mark.parametrize("regime", ["driver", "executor"])
    def test_point_probes(self, spark, table, monkeypatch, regime):
        t, m = table
        home = _home_of(m)
        cases = [
            ({"k": (_k(3, 1), _k(3, 1))}, {3}),
            ({"k": [_k(1, 0), _k(6, 7), GHOST]}, {1, 6}),
            ({"k": (GHOST, GHOST)}, set()),
            # two columns: a conjunction of per-column tests
            ({"k": (_k(2, 4), _k(2, 4)), "u": (_u(2, 5), _u(2, 5))}, {2}),
            ({"k": (_k(2, 4), _k(2, 4)), "u": (_u(5, 5), _u(5, 5))}, set()),
            # a range bound is not bloom-tested: only u prunes
            ({"k": ("0", "g"), "u": [_u(4, 0), _u(7, 1)]}, {4, 7}),
        ]
        _force(monkeypatch, regime)
        for where, want in cases:
            got = V._bloom_prune_where(
                spark, m, list(m["groups"]), where, t.path
            )
            assert set(got) == {home[gi] for gi in want}, where

    @pytest.mark.parametrize("regime", ["driver", "executor", "join"])
    def test_touch_tests(self, spark, table, monkeypatch, regime):
        t, m = table
        home = _home_of(m)
        groups = list(m["groups"])
        upd = spark.createDataFrame(
            [
                (_k(1, 2), _u(1, 2)),
                (_k(5, 0), _u(6, 0)),  # k and u from different groups
                (GHOST, GHOST),
            ],
            "k string, u string",
        )
        _force(monkeypatch, regime)
        one = V._bloom_touched(upd, ["k"], m["stats"], groups, t.path)
        assert one == {home[1], home[5]}
        # two key columns: a ROW must be maybe-present in both
        two = V._bloom_touched(upd, ["k", "u"], m["stats"], groups, t.path)
        assert two == {home[1]}


class TestSidecarSizeMismatch:
    """A sidecar whose size disagrees with the manifest's m reads
    "maybe present" in every regime: its group is kept (a scan or a
    rewrite), never silently dropped. The probes pin the truncated
    snapshot, so the merge test's new version does not disturb them."""

    @pytest.fixture(scope="class")
    def truncated(self, spark, tmp_path_factory):
        t = VersionedTable(str(tmp_path_factory.mktemp("truncated") / "t"))
        for gi in range(3):
            t.commit(
                spark.createDataFrame(
                    [(_k(gi, i), gi) for i in range(20)], "k string, g int"
                ),
                mode="append" if gi else "overwrite",
            )
            if gi == 0:
                t.set_bloom_columns(spark, ["k"])
        v = t.latest_version()
        m = t._load_manifest(v)
        g1 = _home_of(m)[1]
        path = os.path.join(t.path, m["stats"][g1]["_bloom"]["k"]["file"])
        with open(path, "rb") as f:
            data = f.read()
        with open(path, "wb") as f:
            f.write(data[: len(data) // 2])
        return t, v, m, g1

    @pytest.mark.parametrize("regime", ["driver", "executor"])
    def test_point_probe_keeps_group(
        self, spark, truncated, monkeypatch, regime
    ):
        t, v, m, g1 = truncated
        _force(monkeypatch, regime)
        key = _k(1, 7)
        got = V._bloom_prune_where(
            spark, m, list(m["groups"]), {"k": (key, key)}, t.path
        )
        assert g1 in got
        rows = t.read(spark, version=v, where={"k": [key]}).collect()
        assert [r["g"] for r in rows] == [1]

    @pytest.mark.parametrize("regime", ["driver", "executor", "join"])
    def test_touch_test_keeps_group(
        self, spark, truncated, monkeypatch, regime
    ):
        t, _, m, g1 = truncated
        _force(monkeypatch, regime)
        upd = spark.createDataFrame([(_k(1, 7),)], "k string")
        got = V._bloom_touched(
            upd, ["k"], m["stats"], list(m["groups"]), t.path
        )
        assert g1 in got

    def test_merge_updates_key_in_truncated_group(self, spark, truncated):
        t = truncated[0]
        key = _k(1, 7)
        merge_into(
            t, spark,
            spark.createDataFrame([(key, -1)], "k string, g int"),
            key="k",
        )
        rows = t.read(spark).collect()
        assert len(rows) == 60
        assert [r["g"] for r in rows if r["k"] == key] == [-1]


def _jobs_and_reads(spark, monkeypatch, fn):
    """(result, Spark jobs run, driver sidecar reads) for one call."""
    reads = []
    real = V._bloom_words

    def counting(table_path, meta):
        reads.append(meta["file"])
        return real(table_path, meta)

    monkeypatch.setattr(V, "_bloom_words", counting)
    sc = spark.sparkContext
    tag = f"bloom-probe-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return out, len(jsc.statusTracker().getJobIdsForTag(tag)), len(reads)


class TestDriverRegimeJobCount:
    def test_point_probe_is_one_job(self, spark, table, monkeypatch):
        t, m = table
        key = _k(4, 4)
        got, jobs, reads = _jobs_and_reads(
            spark, monkeypatch,
            lambda: V._bloom_prune_where(
                spark, m, list(m["groups"]), {"k": (key, key)}, t.path
            ),
        )
        assert got == [_home_of(m)[4]]
        assert (jobs, reads) == (1, N_GROUPS)

    def test_touch_test_is_one_job(self, spark, table, monkeypatch):
        t, m = table
        # one partition: the bounded hash collect is then one job
        upd = spark.range(1, numPartitions=1).selectExpr(
            f"'{_k(6, 3)}' AS k"
        )
        got, jobs, reads = _jobs_and_reads(
            spark, monkeypatch,
            lambda: V._bloom_touched(
                upd, ["k"], m["stats"], list(m["groups"]), t.path
            ),
        )
        assert got == {_home_of(m)[6]}
        assert (jobs, reads) == (1, N_GROUPS)

    def test_no_bloomed_candidate_runs_nothing(
        self, spark, table, monkeypatch
    ):
        t, m = table
        groups = list(m["groups"])
        # g has stats but no bloom: the point probe exits early
        got, jobs, reads = _jobs_and_reads(
            spark, monkeypatch,
            lambda: V._bloom_prune_where(
                spark, m, groups, {"g": (3, 3)}, t.path
            ),
        )
        assert got == groups
        assert (jobs, reads) == (0, 0)
        upd = spark.range(1, numPartitions=1).selectExpr("'x' AS k")
        got, jobs, reads = _jobs_and_reads(
            spark, monkeypatch,
            lambda: V._bloom_touched(upd, ["k"], m["stats"], [], t.path),
        )
        assert got == set()
        assert (jobs, reads) == (0, 0)
