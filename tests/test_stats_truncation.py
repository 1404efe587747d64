"""String manifest-stats truncation (r12): long string min/max are
stored as bound-preserving prefixes (Delta's 32-char rule, 64 here) so
manifests never grow with payload size — a documents table would
otherwise carry two full text bodies per group in EVERY manifest.
Truncated entries keep pruning/containment conservative-correct and
are marked ``trunc`` so agg_where's MIN/MAX falls back to scanning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    VersionedTable,
    _truncate_str_stats,
)


def _mk_text_table(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "txt"))
    rows = [
        (1, "aaa" + "x" * 5000),
        (2, "mmm" + "y" * 5000),
    ]
    t.commit(
        spark.createDataFrame(rows, "k long, body string"),
        mode="overwrite",
    )
    t.commit(
        spark.createDataFrame(
            [(3, "zzz" + "w" * 5000)], "k long, body string"
        ),
        mode="append",
    )
    return t


class TestTruncationUnit:
    def test_bounds_preserved(self):
        mn, mx, trunc = _truncate_str_stats("a" * 100, "b" * 100)
        assert trunc
        assert len(mn) == 64 and mn <= "a" * 100
        assert len(mx) <= 64 and mx > "b" * 100

    def test_short_strings_untouched(self):
        mn, mx, trunc = _truncate_str_stats("abc", "def")
        assert (mn, mx, trunc) == ("abc", "def", False)

    def test_bump_skips_the_surrogate_block(self):
        mn, mx, trunc = _truncate_str_stats("a", "b" * 63 + "\ud7ff" + "zz")
        assert trunc and mx == "b" * 63 + "\ue000"

    def test_unbumpable_max_becomes_none(self):
        big = chr(0x10FFFF) * 100
        mn, mx, trunc = _truncate_str_stats("a", big)
        assert trunc and mx is None and mn == "a"


class TestManifestShape:
    def test_manifest_carries_prefixes_not_bodies(self, spark, tmp_path):
        t = _mk_text_table(spark, tmp_path)
        m = t._load_manifest(t.latest_version())
        for g, st in (m.get("stats") or {}).items():
            entry = st.get("body")
            assert entry is not None
            assert entry.get("trunc") is True
            assert len(entry["min"]) <= 64
            assert len(entry["max"]) <= 64
        # the whole manifest stays small despite 5KB payloads
        import json

        assert len(json.dumps(m)) < 4000


class TestConsumersStayCorrect:
    def test_where_pruning_is_conservative_and_still_prunes(
        self, spark, tmp_path
    ):
        t = _mk_text_table(spark, tmp_path)
        # rows whose bodies share the truncated prefix range must
        # still be FOUND (bounds widened, never narrowed)
        got = sorted(
            r["k"]
            for r in t.read(
                spark, where={"body": ("aaa", "nnn")}
            ).collect()
        )
        assert got == [1, 2]
        # disjoint prefix range still prunes group-level: count_where
        # detail proves the first group never scans for a 'zzz' probe
        n, detail = t.count_where(
            spark, where={"body": ("z", "zzzz")}, detail=True
        )
        assert n == 1
        assert detail["pruned"] >= 1

    def test_agg_where_minmax_exact_despite_truncation(
        self, spark, tmp_path
    ):
        t = _mk_text_table(spark, tmp_path)
        out, detail = t.agg_where(
            spark, "body", ops=("min", "max", "count"), detail=True
        )
        assert out["count"] == 3
        assert out["min"] == "aaa" + "x" * 5000  # EXACT, not prefix
        assert out["max"] == "zzz" + "w" * 5000
        # exactness came from scanning, not from truncated bounds
        assert detail["metadata"] == 0 and detail["scanned"] == 2

    def test_short_string_minmax_still_metadata_served(
        self, spark, tmp_path
    ):
        t = VersionedTable(str(tmp_path / "short"))
        t.commit(
            spark.createDataFrame(
                [(1, "aa"), (2, "zz")], "k long, s string"
            ),
            mode="overwrite",
        )
        out, detail = t.agg_where(
            spark, "s", ops=("min", "max"), detail=True
        )
        assert out == {"min": "aa", "max": "zz"}
        assert detail["metadata"] == 1 and detail["scanned"] == 0

    def test_merge_touch_test_conservative(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import merge_into

        t = _mk_text_table(spark, tmp_path)
        # a merge keyed on the long-string column must still find and
        # update its row through the truncated boxes
        upd = spark.createDataFrame(
            [("mmm" + "y" * 5000, 99)], "body string, k long"
        ).select("k", "body")
        merge_into(t, spark, upd, key="body")
        rows = {
            r["body"][:3]: r["k"] for r in t.read(spark).collect()
        }
        assert rows["mmm"] == 99
        assert len(rows) == 3

    def test_merge_past_a_max_that_bumps_to_a_surrogate(
        self, spark, tmp_path
    ):
        """A 64-char max prefix ending in U+D7FF bumps to U+E000, not to
        the lone surrogate U+D800 that py4j cannot send as the touch
        test's literal."""
        from file_stream_import_spark.io.versioned import merge_into

        key = "b" * 63 + "\ud7ff" + "zz"
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame([("a", 1), (key, 2)], "k string, v long"),
            mode="overwrite",
        )
        merge_into(
            t, spark,
            spark.createDataFrame([("a", 10)], "k string, v long"),
            key="k",
        )
        got = t.read(spark, where={"k": ("a", key)}).collect()
        assert sorted((r["k"], r["v"]) for r in got) == [
            ("a", 10), (key, 2),
        ]
