"""Golden manifests: one fixed op sequence, every published manifest
pinned.

Every lake write composes its new snapshot from a base snapshot, the
groups it removed and the groups it added. This test runs one seeded
sequence covering every write form — plain, partitioned and rebased
appends, the three MERGE forms (default clauses, a clause dict, a
fold) with the default one rebased, APPLY CHANGES, pruned UPDATE and
DELETE, compaction, clustering (full and incremental), a rebased
merge-on-read delete and the MERGE that rescopes it, a diverged branch
publish and an overwrite — and compares each resulting manifest of
main and of the branch to ``golden_manifests.json``.

Ids are uuids, so every 32-hex id (groups, delete files, the sidecars
inside groups) is renamed by first appearance (``id0``, ``id1``, …);
``committed_at`` (a wall clock) and ``_bytes`` (Parquet file sizes) are
dropped. Everything else
— group order, stats, delete-entry scopes, ``added``, ``mode``,
``rebased_from`` and the inherited keys — must match exactly.

Regenerate the golden file only when a manifest change is intended:
``python -m tests.test_golden_manifests``.
"""

from __future__ import annotations

import json
import pathlib
import re

from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    VersionedTable,
    apply_changes,
    merge_into,
)

GOLDEN = pathlib.Path(__file__).with_name("golden_manifests.json")
_SCHEMA = "k long, v string, p long"
_HEX = re.compile(r"[0-9a-f]{32}")


def _run_sequence(spark, root: str) -> dict:
    def df(rows, schema=_SCHEMA):
        return spark.createDataFrame(rows, schema)

    t = VersionedTable(root)
    t.commit(df([(1, "a", 0), (2, "b", 0), (3, "c", 0), (4, "d", 0)]))
    v = t.commit(
        df([(10, "e", 1), (11, "f", 1), (12, "g", 2), (13, "h", 2)]),
        partition_by=["p"],
    )
    # a stale-pinned append rebases over the partitioned one, and a
    # stale-pinned MERGE over that append (disjoint key boxes)
    t.commit(df([(20, "i", 3)]), expected_parent=v - 1)
    merge_into(
        t, spark, df([(1, "A", 0), (5, "new", 0)]), key="k",
        expected_parent=v,
    )
    merge_into(
        t, spark, df([(10, "x", 1)]), key="k",
        when_matched={"v": F.concat(F.col("t.v"), F.col("s.v"))},
    )
    merge_into(
        t, spark, df([(12, "f", 5), (31, "g", 7)]), key="k",
        fold={"v": "source", "p": "add"},
    )
    apply_changes(
        t, spark,
        spark.createDataFrame(
            [(11, "F", 1, "U"), (13, None, None, "D"), (40, "o", 4, "I")],
            _SCHEMA + ", op string",
        ),
        key="k",
    )
    t.update_where(
        spark, F.col("k") == 20, {"v": F.lit("upd")}, prune_where="auto"
    )
    t.delete_where(spark, F.col("k") == 4, prune_where="auto")
    t.compact(spark, min_bytes=1 << 30)
    t.optimize(spark, cluster_by="k", target_groups=2)
    v = t.commit(df([(50, "r", 5), (51, "s", 5)]))
    # a stale-pinned merge-on-read delete rebases over that append; the
    # incremental clustering carries its entry, and a MERGE touching
    # one of its groups rescopes it
    t.delete_where(
        spark, F.col("k").isin(2, 31), strategy="merge-on-read",
        key_cols=["k"], expected_parent=v - 1,
    )
    t.optimize_incremental(spark)
    merge_into(t, spark, df([(3, "C", 0)]), key="k")
    b = t.create_branch("audit")
    b.commit(df([(60, "u", 6), (61, "w", 6)]))
    t.commit(df([(70, "x", 7)]))
    t.publish_branch("audit")
    t.commit(df([(100, "z", 0)]), mode="overwrite")
    return {
        "main": [t._load_manifest(v) for v in t.versions()],
        "branch": [b._load_manifest(v) for v in b.versions()],
    }


def _strip(x):
    if isinstance(x, dict):
        return {
            k: _strip(v)
            for k, v in x.items()
            if k not in ("committed_at", "_bytes")
        }
    if isinstance(x, list):
        return [_strip(v) for v in x]
    return x


def _normalize(run: dict) -> dict:
    """Rename uuids by first appearance: each manifest's group list,
    then its delete-entry files, then whatever else it holds."""
    ids: dict[str, str] = {}

    def name(text: str) -> None:
        for h in _HEX.findall(text):
            ids.setdefault(h, f"id{len(ids)}")

    out = {}
    for chain in ("main", "branch"):
        out[chain] = []
        for m in run[chain]:
            for g in m.get("groups") or []:
                name(g)
            for e in m.get("delete_entries") or []:
                name(e["file"])
            text = json.dumps(_strip(m), sort_keys=True)
            name(text)
            out[chain].append(
                json.loads(_HEX.sub(lambda h: ids[h.group()], text))
            )
    return out


def test_manifests_match_golden(spark, tmp_path):
    got = _normalize(_run_sequence(spark, str(tmp_path / "t")))
    want = json.loads(GOLDEN.read_text())
    assert len(got["main"]) == len(want["main"])
    for v, (g, w) in enumerate(zip(got["main"], want["main"])):
        assert g == w, f"main v{v} ({w.get('mode')}) differs"
    assert got["branch"] == want["branch"]


if __name__ == "__main__":
    import os
    import tempfile

    from file_stream_import_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # as tests/conftest.py

    session = get_spark(app_name="golden", shuffle_partitions=8)
    with tempfile.TemporaryDirectory() as d:
        golden = _normalize(_run_sequence(session, d + "/t"))
    GOLDEN.write_text(json.dumps(golden, indent=1, sort_keys=True) + "\n")
    print(f"wrote {GOLDEN} ({len(golden['main'])} main versions)")
