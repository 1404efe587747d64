"""The group rule every data write publishes through.

A write names the groups it removed and the groups it added (with their
stats); the new snapshot is the base's groups minus the removed ones,
then the added ones, with the kept groups' stats carried and pending
merge-on-read delete entries rescoped to the groups that stay
(VersionedTable._publish_or_rebase). The unit tests drive the rule on
metadata-only manifests (no Spark job); the rescoping tests run it
through each row-level rewrite.
"""

from __future__ import annotations

import shutil
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from file_stream_import_spark.io.versioned import (
    CommitConflictError,
    VersionedTable,
    apply_changes,
)

_SCHEMA = StructType([StructField("k", LongType())]).json()


def _stats(i: int) -> dict:
    return {"_rows": 1, "k": {"min": i, "max": i, "nulls": 0}}


def _base(t: VersionedTable, groups: list[str], entries: list) -> dict:
    v = t._publish(
        None,
        {
            "schema": _SCHEMA,
            "groups": groups,
            "mode": "append",
            "added": groups,
            "delete_entries": entries,
            "stats": {g: _stats(i) for i, g in enumerate(groups)},
        },
    )
    return t._load_manifest(v)


class TestRule:
    def test_removed_out_added_last_entries_rescoped(self, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        m = _base(
            t,
            ["a", "b", "c", "d"],
            [
                {"file": "da", "key": ["k"], "applies_to": ["a", "b"]},
                {"file": "db", "key": ["k"], "applies_to": ["b", "d"]},
                {"file": "dc", "key": ["k"], "applies_to": ["c", "a"]},
            ],
        )
        v = t._publish_or_rebase(
            m, ["d", "b"], ["y", "x"], {"x": _stats(8), "y": _stats(9)},
            mode="overwrite",
        )
        got = t._load_manifest(v)
        assert got["groups"] == ["a", "c", "y", "x"]
        assert got["added"] == ["y", "x"]
        assert list(got["stats"]) == got["groups"]
        assert got["stats"]["a"] == _stats(0)
        assert got["stats"]["x"] == _stats(8)
        # scopes shrink to the kept groups; an emptied scope is dropped
        scopes = [(e["file"], e["applies_to"]) for e in got["delete_entries"]]
        assert scopes == [("da", ["a"]), ("dc", ["c", "a"])]
        assert (got["mode"], got["schema"]) == ("overwrite", _SCHEMA)
        assert "rebased_from" not in got

    def test_rebase_applies_the_rule_to_the_latest_snapshot(self, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        m = _base(t, ["a", "b", "c"], [])
        # a concurrent append lands between the base and the publish
        t._publish(
            m["version"],
            {
                "schema": _SCHEMA,
                "groups": ["a", "b", "c", "z"],
                "mode": "append",
                "added": ["z"],
                "delete_entries": [],
                "stats": {**m["stats"], "z": _stats(7)},
            },
        )
        v = t._publish_or_rebase(
            m, ["b"], ["x"], {"x": _stats(8)}, mode="compact:1",
            concurrent_adds_ok=True,
        )
        got = t._load_manifest(v)
        assert v == m["version"] + 2
        assert got["groups"] == ["a", "c", "z", "x"]
        assert list(got["stats"]) == got["groups"]
        assert got["stats"]["z"] == _stats(7)
        assert got["rebased_from"] == m["version"]

    def test_pinned_never_rebases(self, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        m = _base(t, ["a"], [])
        t._publish(m["version"], {**m, "groups": ["a", "z"], "added": ["z"]})
        with pytest.raises(CommitConflictError, match="committed concurrently"):
            t._publish_or_rebase(
                m, ["a"], ["x"], {"x": _stats(8)}, mode="overwrite",
                concurrent_adds_ok=True, pinned=True,
            )


def test_append_onto_20k_groups_carries_stats_linearly(spark, tmp_path):
    """Appending one row onto a 20,000-group manifest carries every
    group's stats in one pass: membership tests against a set built
    once, not once per group (rebuilt per group, the carry alone took
    about 20 s here)."""
    n = 20_000
    t = VersionedTable(str(tmp_path / "t"))
    groups = [f"data/{i:032x}" for i in range(n)]
    base = _base(t, groups, [])["version"]
    df = spark.createDataFrame([(n,)], "k long")
    # time the commit, not the JVM's first write: warm the path once
    VersionedTable(str(tmp_path / "warm")).commit(df)
    t0 = time.perf_counter()
    v = t.commit(df)
    elapsed = time.perf_counter() - t0
    m = t._load_manifest(v)
    assert v == base + 1
    assert m["groups"][:n] == groups and len(m["groups"]) == n + 1
    assert set(m["stats"]) == set(m["groups"])
    assert m["stats"][groups[7]] == _stats(7)
    assert elapsed < 10, f"one-row append took {elapsed:.1f} s"


@pytest.fixture(scope="module")
def two_groups_one_delete(spark, tmp_path_factory):
    """Groups g1 = {1, 10} and g2 = {11, 20}, and one merge-on-read
    delete of keys 1 and 20 scoped to both."""
    t = VersionedTable(str(tmp_path_factory.mktemp("rescope") / "t"))
    t.commit(spark.createDataFrame([(1, "a"), (10, "b")], "k long, v string"))
    t.commit(spark.createDataFrame([(11, "c"), (20, "d")], "k long, v string"))
    t.delete_where(
        spark, F.col("k").isin(1, 20), strategy="merge-on-read",
        key_cols=["k"],
    )
    return t


@pytest.mark.parametrize(
    "op, rows",
    [
        ("apply_changes", [(10, "b"), (11, "C2")]),
        ("update_where", [(10, "b"), (11, "C2")]),
        ("delete_where", [(10, "b")]),
    ],
)
def test_rewrite_rescopes_delete_entry(
    spark, tmp_path, two_groups_one_delete, op, rows
):
    """A rewrite touching only g2 (key 11) materializes the delete there
    and leaves the entry scoped to g1 alone; the deleted keys stay
    deleted."""
    t = VersionedTable(str(tmp_path / "t"))
    shutil.copytree(two_groups_one_delete.path, t.path)
    g1, g2 = t._load_manifest(1)["groups"]
    if op == "apply_changes":
        apply_changes(
            t, spark,
            spark.createDataFrame(
                [(11, "C2", "U")], "k long, v string, op string"
            ),
            key="k",
        )
    elif op == "update_where":
        t.update_where(
            spark, F.col("k") == 11, {"v": F.lit("C2")}, prune_where="auto"
        )
    else:
        t.delete_where(spark, F.col("k") == 11, prune_where="auto")
    m = t._load_manifest(t.latest_version())
    assert m["groups"][0] == g1 and g2 not in m["groups"]
    assert [e["applies_to"] for e in m["delete_entries"]] == [[g1]]
    assert sorted((r.k, r.v) for r in t.read(spark).collect()) == rows


def _count_loads(monkeypatch, fn) -> tuple:
    """(fn's result, how many manifests it parsed)."""
    loads = [0]
    orig = VersionedTable._load_manifest

    def counting(self, v):
        loads[0] += 1
        return orig(self, v)

    with monkeypatch.context() as m:
        m.setattr(VersionedTable, "_load_manifest", counting)
        out = fn()
    return out, loads[0]


class TestBaseManifestParsedOnce:
    """A write publishes against the manifest it already holds: the
    publish inherits txn marks, constraints and column maps from that
    parsed parent instead of loading it again, and a rebase round
    validates against the held base and loads only the new head."""

    def test_one_row_append(self, spark, monkeypatch, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        df = spark.createDataFrame([(1,)], "k long")
        t.commit(df)
        v, loads = _count_loads(monkeypatch, lambda: t.commit(df))
        assert v == 1
        # commit's own parent load; the publish reuses it
        assert loads == 1

    def test_one_rebase_round(self, monkeypatch, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        m = _base(t, ["a", "b"], [])
        t._publish(m["version"], {**m, "groups": ["a", "b", "z"],
                                  "added": ["z"]})
        v, loads = _count_loads(
            monkeypatch,
            lambda: t._publish_or_rebase(
                m, ["b"], ["x"], {"x": _stats(8)}, mode="compact:1",
                concurrent_adds_ok=True,
            ),
        )
        assert t._load_manifest(v)["groups"] == ["a", "z", "x"]
        # the lost first publish is free; the round loads the new head
        # once, and its publish reuses it
        assert loads == 1
