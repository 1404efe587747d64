"""Round-9: partition-aware commits (one group per partition value,
written by the group writer every commit and clustering shares,
io/versioned.py::_write_groups) and the streaming writer's continuous
maintenance (partition_by + auto_compact_every).

A partitioned commit makes each group's stats box for the partition
column a POINT, so reads / MERGE touch tests / auto-pruned DML on that
column skip exactly — the Iceberg/Delta partitioned-table layout
without a clustering OPTIMIZE pass.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    ConstraintViolationError,
    VersionedTable,
    make_idempotent_table_writer,
    merge_into,
)


def _days_df(spark, lo, hi, tag="x"):
    """Rows spread over date partitions d = 2020-01-(1+id%n)."""
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.date_add(F.lit("2020-01-01"), (F.col("id") % 4).cast("int"))
        .alias("d"),
        F.lit(tag).alias("tag"),
    )


class TestPartitionedCommit:
    def test_one_group_per_partition_value(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        v = t.commit(
            _days_df(spark, 0, 400), mode="overwrite",
            partition_by=["d"],
        )
        m = t._load_manifest(v)
        assert len(m["groups"]) == 4
        assert sorted(m["added"]) == sorted(m["groups"])
        for g in m["groups"]:
            st = m["stats"][g]
            # the partition column's box is a point; originals retained
            assert st["d"]["min"] == st["d"]["max"]
            assert st["_rows"] == 100
            assert st["_bytes"] > 0
        # all partition values distinct across groups
        vals = {m["stats"][g]["d"]["min"] for g in m["groups"]}
        assert vals == {
            "2020-01-01", "2020-01-02", "2020-01-03", "2020-01-04"
        }

    def test_read_prunes_exactly_one_partition(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            _days_df(spark, 0, 400), mode="overwrite",
            partition_by=["d"],
        )
        import datetime

        df = t.read(
            spark,
            where_expr=F.col("d") == datetime.date(2020, 1, 3),
        )
        dirs = {
            os.path.basename(os.path.dirname(f)) for f in df.inputFiles()
        }
        assert len(dirs) == 1  # point box: exact pruning, no FPs
        assert df.count() == 100
        # full read sees every column including the partition one
        assert set(t.read(spark).columns) == {"k", "d", "tag"}
        assert t.read(spark).count() == 400

    def test_append_accumulates_partitions(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            _days_df(spark, 0, 100, "a"), mode="overwrite",
            partition_by=["d"],
        )
        v = t.commit(
            _days_df(spark, 100, 200, "b"), mode="append",
            partition_by=["d"],
        )
        m = t._load_manifest(v)
        assert len(m["groups"]) == 8 and len(m["added"]) == 4
        assert t.read(spark).count() == 200

    def test_auto_pruned_delete_on_partition_column(
        self, spark, tmp_path
    ):
        import datetime

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            _days_df(spark, 0, 400), mode="overwrite",
            partition_by=["d"],
        )
        before = set(t._load_manifest(t.latest_version())["groups"])
        v = t.delete_where(
            spark,
            F.col("d") == datetime.date(2020, 1, 2),
            prune_where="auto",
        )
        carried = set(t._load_manifest(v)["groups"]) & before
        assert len(carried) == 3  # drop-a-partition touches one group
        assert t.read(spark).count() == 300

    def test_multi_column_partitioning(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        df = spark.range(120).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).alias("a"),
            (F.col("id") % 3).alias("b"),
        )
        v = t.commit(df, mode="overwrite", partition_by=["a", "b"])
        m = t._load_manifest(v)
        assert len(m["groups"]) == 6  # 2 x 3 leaf partitions
        for g in m["groups"]:
            st = m["stats"][g]
            assert st["a"]["min"] == st["a"]["max"]
            assert st["b"]["min"] == st["b"]["max"]
        got = t.read(spark, where={"a": (1, 1), "b": (2, 2)})
        assert len(got.inputFiles()) >= 1
        assert got.count() == 20

    def test_null_partition_value(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        df = spark.range(20).select(
            F.col("id").alias("k"),
            F.when(F.col("id") < 5, None)
            .otherwise(F.lit("p"))
            .alias("part"),
        )
        v = t.commit(df, mode="overwrite", partition_by=["part"])
        m = t._load_manifest(v)
        assert len(m["groups"]) == 2
        assert t.read(spark).count() == 20
        assert (
            t.read(spark).filter(F.col("part").isNull()).count() == 5
        )

    def test_constraints_validate_on_partitioned_commit(
        self, spark, tmp_path
    ):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_days_df(spark, 0, 40), mode="overwrite",
                 partition_by=["d"])
        t.add_check_constraint(spark, "pos", "k >= 0")
        with pytest.raises(ConstraintViolationError):
            t.commit(
                _days_df(spark, -10, 0), mode="append",
                partition_by=["d"],
            )
        # rejected groups are orphans; rows unchanged
        assert t.read(spark).count() == 40

    def test_blooms_build_per_partition_group(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_days_df(spark, 0, 40), mode="overwrite",
                 partition_by=["d"])
        t.set_bloom_columns(spark, ["tag"])
        v = t.commit(
            _days_df(spark, 40, 80, "q"), mode="append",
            partition_by=["d"],
        )
        m = t._load_manifest(v)
        for g in m["added"]:
            bl = m["stats"][g]["_bloom"]["tag"]
            assert os.path.exists(os.path.join(t.path, bl["file"]))

    def test_unknown_partition_column_raises(self, spark, tmp_path):
        t = VersionedTable(str(tmp_path / "t"))
        with pytest.raises(ValueError, match="partition_by"):
            t.commit(
                _days_df(spark, 0, 10), mode="overwrite",
                partition_by=["nope"],
            )

    def test_merge_prunes_by_partition(self, spark, tmp_path):
        """A MERGE whose keys live in one partition's k-range rewrites
        only that partition's groups."""
        t = VersionedTable(str(tmp_path / "t"))
        # one partition per contiguous k-range so key boxes are tight
        df = spark.range(400).select(
            F.col("id").alias("k"),
            (F.col("id") / 100).cast("int").alias("bucket"),
            F.lit("x").alias("tag"),
        )
        t.commit(df, mode="overwrite", partition_by=["bucket"])
        before = set(t._load_manifest(t.latest_version())["groups"])
        upd = spark.range(150, 155).select(
            F.col("id").alias("k"),
            F.lit(1).cast("int").alias("bucket"),
            F.lit("merged").alias("tag"),
        )
        v = merge_into(t, spark, upd, key="k")
        carried = set(t._load_manifest(v)["groups"]) & before
        assert len(carried) == 3
        got = t.read(spark).filter(F.col("tag") == "merged").count()
        assert got == 5


def _jobs(spark, fn):
    """(result, Spark jobs the call ran), counted by a job tag."""
    sc = spark.sparkContext
    tag = f"group-writer-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return out, len(jsc.statusTracker().getJobIdsForTag(tag))


def _shapes_df(spark, n_parts=4):
    """1,200 rows: a key, a double with NULLs, a string, and a
    partition column of ``n_parts`` values."""
    return spark.range(1200).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.col("id") * 0.5)
        .alias("x"),
        F.concat(F.lit("s"), (F.col("id") % 13).cast("string")).alias("s"),
        (F.col("id") % n_parts).cast("int").alias("p"),
    )


class TestOneGroupWriter:
    """Plain commits, partitioned commits and clustering write their
    groups and stats through one writer (_write_groups), so the same
    rows carry the same stats whichever way they were written."""

    @pytest.mark.parametrize("partition_by", [None, ["bucket(2, a)"]])
    def test_every_group_records_rows_and_bytes(
        self, spark, tmp_path, partition_by
    ):
        # an array is not stats-eligible: the groups carry no column
        # entry, but still their row and byte counts
        t = VersionedTable(str(tmp_path / "t"))
        v = t.commit(
            spark.range(40).select(
                F.array(F.col("id"), F.col("id") * 2).alias("a")
            ),
            mode="overwrite",
            partition_by=partition_by,
        )
        m = t._load_manifest(v)
        assert m["groups"]
        for g in m["groups"]:
            assert m["stats"][g]["_rows"] > 0
            assert m["stats"][g]["_bytes"] > 0
        assert sum(m["stats"][g]["_rows"] for g in m["groups"]) == 40

    def test_three_write_shapes_agree(self, spark, tmp_path):
        import decimal

        plain = VersionedTable(str(tmp_path / "plain"))
        plain.commit(_shapes_df(spark), mode="overwrite")
        parted = VersionedTable(str(tmp_path / "parted"))
        parted.commit(
            _shapes_df(spark), mode="overwrite", partition_by=["p"]
        )
        clustered = VersionedTable(str(tmp_path / "clustered"))
        clustered.commit(_shapes_df(spark), mode="overwrite")
        clustered.optimize(spark, cluster_by="k", target_groups=12)

        def summary(t):
            m = t._load_manifest(t.latest_version())
            sts = [m["stats"][g] for g in m["groups"]]
            keys = {
                (c, tuple(sorted(st[c])))
                for st in sts
                for c in st
                if not c.startswith("_")
            }
            totals = {"rows": sum(st["_rows"] for st in sts)}
            for c in ("k", "x", "s", "p"):
                mins = [st[c]["min"] for st in sts if st[c]["min"] is not None]
                maxs = [st[c]["max"] for st in sts if st[c]["max"] is not None]
                totals[c] = (
                    min(mins), max(maxs), sum(st[c]["nulls"] for st in sts),
                    sum(
                        decimal.Decimal(str(st[c]["sum"]))
                        for st in sts
                        if st[c].get("sum") is not None
                    ) if c != "s" else None,
                )
            assert all(st["_bytes"] > 0 for st in sts)
            return m, keys, totals

        _, keys, totals = summary(plain)
        assert keys == {
            ("k", ("max", "min", "nulls", "sum")),
            ("x", ("max", "min", "nulls", "sum")),
            ("s", ("max", "min", "nulls")),
            ("p", ("max", "min", "nulls", "sum")),
        }
        assert totals["rows"] == 1200
        assert totals["k"] == (0, 1199, 0, 1199 * 1200 // 2)
        assert totals["x"][2] == len(range(0, 1200, 7))
        m_p, keys_p, totals_p = summary(parted)
        m_c, keys_c, totals_c = summary(clustered)
        assert len(m_p["groups"]) == 4 and len(m_c["groups"]) == 12
        assert keys_p == keys == keys_c
        assert totals_p == totals == totals_c
        # the clustered groups are listed in key order
        ks = [m_c["stats"][g]["k"] for g in m_c["groups"]]
        assert all(a["max"] < b["min"] for a, b in zip(ks, ks[1:]))

    @pytest.mark.parametrize("n_parts", [2, 12, 40])
    def test_partitioned_commit_jobs_do_not_grow_with_groups(
        self, spark, tmp_path, n_parts
    ):
        """Two jobs for the hash-shuffled write and two for the one
        grouped stats aggregate (AQE runs the shuffle map stage of each
        as its own job), whether the commit lands 2 groups, 12 or 40 —
        past the 32 paths at which Spark lists files in a job of its
        own."""
        t = VersionedTable(str(tmp_path / "t"))
        v, jobs = _jobs(
            spark,
            lambda: t.commit(
                _shapes_df(spark, n_parts), mode="overwrite",
                partition_by=["p"],
            ),
        )
        assert len(t._load_manifest(v)["groups"]) == n_parts
        assert jobs == 4

    @pytest.mark.parametrize("target_groups", [2, 12, 40])
    def test_optimize_jobs_do_not_grow_with_groups(
        self, spark, tmp_path, target_groups
    ):
        """One job samples the key range, two run the range-shuffled
        write and two the grouped stats aggregate, at 2, 12 or 40
        groups."""
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(_shapes_df(spark), mode="overwrite")
        v, jobs = _jobs(
            spark,
            lambda: t.optimize(
                spark, cluster_by="k", target_groups=target_groups
            ),
        )
        assert len(t._load_manifest(v)["groups"]) == target_groups
        assert jobs == 5


class TestWriterMaintenance:
    def test_partitioned_exactly_once_writer_with_auto_compact(
        self, spark, tmp_path
    ):
        """Five micro-batches through the exactly-once writer with
        partition_by + auto_compact_every: data lands partitioned,
        replays are skipped, and compaction packs the accumulating
        small groups without ever losing a row."""
        t = VersionedTable(str(tmp_path / "t"))
        writer = make_idempotent_table_writer(
            t, "maint", partition_by=["d"],
            auto_compact_every=3, compact_min_bytes=1 << 20,
        )
        for bid in range(5):
            writer(_days_df(spark, bid * 40, (bid + 1) * 40, f"b{bid}"),
                   bid)
        writer(_days_df(spark, 0, 40, "replayed"), 2)  # replay: no-op
        assert t.read(spark).count() == 200
        assert (
            t.read(spark).filter(F.col("tag") == "replayed").count()
            == 0
        )
        # compaction actually ran (mode recorded) and packed groups
        modes = [h["mode"] for h in t.history()]
        assert any(str(m).startswith("compact:") for m in modes)
        m = t._load_manifest(t.latest_version())
        # 5 batches x 4 partitions = 20 groups without maintenance;
        # compaction keeps the live count well under that
        assert len(m["groups"]) < 12


class TestPartitionTransforms:
    """Hidden partitioning (r10): commit(partition_by=['days(ts)', ...])
    — Iceberg's transform ergonomic. The value of a temporal transform
    is that each group's SOURCE-column stats box is one tight interval,
    so plain range predicates on the source column prune with no
    user-visible partition column."""

    def _ts_df(self, spark, n_days=4, per_day=6):
        import datetime

        rows = []
        for d in range(n_days):
            for i in range(per_day):
                rows.append(
                    (
                        d * per_day + i,
                        datetime.datetime(2021, 3, 1 + d, 2 * i),
                        float(d * per_day + i),
                    )
                )
        return spark.createDataFrame(
            rows, "k bigint, ts timestamp, x double"
        )

    def test_days_transform_point_box_pruning(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import VersionedTable

        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            self._ts_df(spark), mode="overwrite",
            partition_by=["days(ts)"],
        )
        m = t._load_manifest(t.latest_version())
        assert len(m["groups"]) == 4  # one group per day
        # a one-day range predicate on the SOURCE column: one group
        # fully contained, three pruned, zero scanned
        import datetime

        total, detail = t.count_where(
            spark,
            where={
                "ts": (
                    datetime.datetime(2021, 3, 2),
                    datetime.datetime(2021, 3, 2, 23, 59),
                )
            },
            detail=True,
        )
        assert total == 6
        assert detail == {"pruned": 3, "metadata": 1, "scanned": 0}

    def test_hours_and_years_transforms(self, spark, tmp_path):
        from file_stream_import_spark.io.versioned import VersionedTable

        t = VersionedTable(str(tmp_path / "h"))
        t.commit(
            self._ts_df(spark, n_days=1, per_day=3),
            mode="overwrite",
            partition_by=["hours(ts)"],
        )
        assert len(t._load_manifest(0)["groups"]) == 3
        t2 = VersionedTable(str(tmp_path / "y"))
        t2.commit(
            self._ts_df(spark), mode="overwrite",
            partition_by=["years(ts)"],
        )
        assert len(t2._load_manifest(0)["groups"]) == 1

    def test_bucket_transform(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from file_stream_import_spark.io.versioned import VersionedTable

        t = VersionedTable(str(tmp_path / "b"))
        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )
        t.commit(df, mode="overwrite", partition_by=["bucket(4, k)"])
        m = t._load_manifest(0)
        assert 2 <= len(m["groups"]) <= 4
        got = sorted(r["k"] for r in t.read(spark).collect())
        assert got == list(range(100))

    def test_truncate_int_and_string(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from file_stream_import_spark.io.versioned import VersionedTable

        t = VersionedTable(str(tmp_path / "tr"))
        df = spark.range(40).select(
            F.col("id").alias("k"),
            F.concat(
                F.lit("grp"),
                (F.col("id") % 2).cast("string"),
                F.lit("_"),
                F.col("id").cast("string"),
            ).alias("s"),
        )
        t.commit(df, mode="overwrite", partition_by=["truncate(10, k)"])
        m = t._load_manifest(0)
        assert len(m["groups"]) == 4  # k in [0,10), [10,20), ...
        total, detail = t.count_where(
            spark, where={"k": (10, 19)}, detail=True
        )
        assert total == 10
        assert detail == {"pruned": 3, "metadata": 1, "scanned": 0}
        t2 = VersionedTable(str(tmp_path / "trs"))
        t2.commit(df, mode="overwrite", partition_by=["truncate(4, s)"])
        assert len(t2._load_manifest(0)["groups"]) == 2  # grp0 / grp1

    def test_transform_composes_with_raw_column(self, spark, tmp_path):
        import datetime

        from pyspark.sql import functions as F

        from file_stream_import_spark.io.versioned import VersionedTable

        t = VersionedTable(str(tmp_path / "c"))
        df = self._ts_df(spark, n_days=2, per_day=4).withColumn(
            "region", F.when(F.col("k") % 2 == 0, "eu").otherwise("us")
        )
        t.commit(
            df, mode="overwrite",
            partition_by=["days(ts)", "region"],
        )
        assert len(t._load_manifest(0)["groups"]) == 4  # 2 days x 2
        assert t.read(spark).count() == 8

    def test_transform_errors(self, spark, tmp_path):
        import pytest as _pytest

        from pyspark.sql import functions as F

        from file_stream_import_spark.io.versioned import VersionedTable

        t = VersionedTable(str(tmp_path / "e"))
        df = spark.range(5).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("s")
        )
        with _pytest.raises(ValueError, match="date/timestamp"):
            t.commit(df, mode="overwrite", partition_by=["days(k)"])
        with _pytest.raises(ValueError, match="not in data"):
            t.commit(df, mode="overwrite", partition_by=["days(nope)"])
        with _pytest.raises(ValueError, match="int/string"):
            t.commit(
                df.select("k", F.col("k").cast("double").alias("d")),
                mode="overwrite",
                partition_by=["truncate(2, d)"],
            )
