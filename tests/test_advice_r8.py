"""Regression tests for the round-8 ADVICE findings:

1. (medium) _validate_rebase treated a concurrent group's None min/max
   as an all-NULL key column (overlaps=False) without checking that the
   null count covers every row — legacy manifests encoded non-finite
   float min/max as None with non-null rows, so rebasing over legacy
   stats on a float key could falsely prove disjointness and silently
   drop a true conflict (lost update). The same ambiguity existed in
   read-side group pruning (_group_may_match) and MERGE touch pruning
   (_split_touched_groups), where it caused wrong-answer reads/merges.
2. (low) jpeg_decode let the internal _MarkerHit signal exception
   escape on truncated entropy streams instead of the documented
   ValueError.
3. (low) jpeg_decode's marker loop misparsed conformant JPEGs carrying
   T.81 0xFF fill bytes before a marker (read marker 0xFFFF).
4. (low) _publish_or_rebase burned its 50-attempt rebase budget on a
   stale version listing (publish conflicts but latest_version() still
   returns attempt_base), surfacing a misleading "commit storm" error.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    CommitConflictError,
    VersionedTable,
    _group_may_match,
    _split_touched_groups,
)
from file_stream_import_spark.operators.multimodal import (
    jpeg_decode,
    jpeg_encode,
)

_LEGACY = {"min": None, "max": None, "nulls": 0}  # non-finite-era entry


def _schema_json(spark):
    return spark.createDataFrame([(1.0, "x")], "k double, v string").schema.json()


class TestLegacyNoneStatsRebase:
    """ADVICE 1: None min/max with nulls != rows is 'no proof', not
    'all NULL' — the rebase must conflict, not land."""

    def _manifests(self, spark, nulls: int, rows: int = 5):
        schema = _schema_json(spark)
        base_m = {
            "schema": schema,
            "groups": ["data/a"],
            "stats": {},
        }
        latest_m = {
            "schema": schema,
            "groups": ["data/a", "data/b"],
            "stats": {
                "data/b": {
                    "_rows": rows,
                    "k": {"min": None, "max": None, "nulls": nulls},
                }
            },
        }
        ours = {"schema": schema, "added": ["data/new"], "stats": {}}
        return base_m, latest_m, ours

    def test_legacy_nonfinite_stats_conflict(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        base_m, latest_m, ours = self._manifests(spark, nulls=0)
        with pytest.raises(CommitConflictError):
            t._validate_rebase(
                base_m, latest_m, ours, set(), None,
                {"k": (1.0, 2.0)}, None, False,
            )

    def test_true_all_null_group_still_disjoint(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        base_m, latest_m, ours = self._manifests(spark, nulls=5, rows=5)
        # nulls == rows: genuinely all-NULL key column, provably
        # disjoint from any key box — no conflict
        t._validate_rebase(
            base_m, latest_m, ours, set(), None,
            {"k": (1.0, 2.0)}, None, False,
        )


class TestLegacyNoneStatsReadAndMerge:
    def test_group_may_match_scans_ambiguous_legacy_stats(self):
        legacy = {"_rows": 5, "k": dict(_LEGACY)}
        assert _group_may_match(legacy, {"k": (1.0, 2.0)}) is True

    def test_group_may_match_prunes_proven_all_null(self):
        all_null = {
            "_rows": 5,
            "k": {"min": None, "max": None, "nulls": 5},
        }
        assert _group_may_match(all_null, {"k": (1.0, 2.0)}) is False

    def test_split_touched_rewrites_ambiguous_legacy_group(self, spark):
        m = {
            "groups": ["data/a"],
            "stats": {"data/a": {"_rows": 3, "k": dict(_LEGACY)}},
        }
        updates = spark.createDataFrame([(1.0,)], "k double")
        types = {"k": updates.schema["k"].dataType}
        touched, untouched, _ = _split_touched_groups(m, updates, ["k"], types)
        assert touched == ["data/a"] and untouched == []

    def test_split_touched_skips_proven_all_null_group(self, spark):
        m = {
            "groups": ["data/a"],
            "stats": {
                "data/a": {
                    "_rows": 3,
                    "k": {"min": None, "max": None, "nulls": 3},
                }
            },
        }
        updates = spark.createDataFrame([(1.0,)], "k double")
        types = {"k": updates.schema["k"].dataType}
        touched, untouched, _ = _split_touched_groups(m, updates, ["k"], types)
        assert touched == [] and untouched == ["data/a"]


class TestJpegRobustness:
    def test_truncated_entropy_stream_raises_value_error(self):
        full = jpeg_encode(bytes(range(64)), blocks_per_row=8)
        # cut entropy bytes, keep the EOI: the Huffman walk runs into
        # the marker mid-MCU (_MarkerHit path) — must be ValueError
        doctored = full[:-12] + b"\xff\xd9"
        with pytest.raises(ValueError):
            jpeg_decode(doctored)

    def test_truncated_at_eof_raises_value_error(self):
        full = jpeg_encode(bytes(range(64)), blocks_per_row=8)
        with pytest.raises(ValueError):
            jpeg_decode(full[:-12])  # no EOI either: plain EOF

    def test_fill_bytes_before_markers_are_skipped(self):
        full = jpeg_encode(b"fill-byte conformance", blocks_per_row=4)
        ref = jpeg_decode(full)
        # pad 0xFF fill bytes before the DQT and SOS markers (T.81
        # B.1.1.2 allows any number); decode must be unchanged
        doctored = full
        for marker in (b"\xff\xdb", b"\xff\xda"):
            i = doctored.index(marker)
            doctored = doctored[:i] + b"\xff\xff\xff" + doctored[i:]
        assert jpeg_decode(doctored) == ref


class TestStaleListingGuard:
    """Each publish path loops through _commit_loop: a publish that
    keeps losing its slot while the listing never moves past the base
    is a listing race, reported as such instead of a commit storm."""

    @pytest.mark.parametrize("path", ["rebase", "mor", "branch"])
    def test_inconsistent_listing_raises_distinct_error(
        self, spark, tmp_path, monkeypatch, path
    ):
        t = VersionedTable(str(tmp_path / "t"))
        df = spark.createDataFrame([(1, "a")], "k long, v string")
        base = t.commit(df)
        m = t._load_manifest(base)
        if path == "branch":
            t.create_branch("b").commit(df)

        def always_conflict(*a, **kw):
            raise CommitConflictError("slot taken")

        monkeypatch.setattr(t, "_publish", always_conflict)
        monkeypatch.setattr(t, "latest_version", lambda: base)
        with pytest.raises(CommitConflictError, match="listing inconsistent"):
            if path == "rebase":
                t._publish_or_rebase(m, [], [], {}, mode="append")
            elif path == "mor":
                t.delete_where(
                    spark, F.col("k") == 1, strategy="merge-on-read",
                    key_cols=["k"],
                )
            else:
                t.publish_branch("b")
