"""merge_into and apply_changes materialize their source once per call.

The touch test, the write plan (anti-join + union) and the rebase
callbacks all read one pinned copy of the source, so a source is
evaluated once — and a source that would answer differently on a
second evaluation cannot land keys the touch test never saw. The pinned
source also reports its real size to the write, so a small merge lands
as one file.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    VersionedTable,
    apply_changes,
    merge_into,
)


@pytest.fixture
def two_groups(spark, tmp_path):
    """Keys 1-10 in one group, 100-110 in another, all v = 'old'."""
    t = VersionedTable(str(tmp_path / "t"))
    mk = lambda ks: spark.createDataFrame(
        [(k, "old") for k in ks], "k long, v string"
    )
    t.commit(mk(range(1, 11)), mode="overwrite")
    t.commit(mk(range(100, 111)), mode="append")
    assert len(t._load_manifest(t.latest_version())["groups"]) == 2
    return t


def _shifting_source(spark, tmp_path, with_op: bool):
    """A one-partition source that returns key 5 on its first
    evaluation and key 105 on every later one; the counter file records
    how many times it ran."""
    counter = str(tmp_path / f"evals-{uuid.uuid4().hex}")
    open(counter, "w").close()
    schema = "k long, v string" + (", op string" if with_op else "")

    def rows(batches):
        for _ in batches:
            pass
        with open(counter, "a+") as fh:
            fh.seek(0)
            n = len(fh.read())
            fh.write("x")
        row = {"k": [5 if n == 0 else 105], "v": ["new"]}
        if with_op:
            row["op"] = ["U"]
        yield pd.DataFrame(row)

    df = spark.range(1, numPartitions=1).mapInPandas(rows, schema)
    return df, lambda: os.path.getsize(counter)


def _state(t, spark):
    return sorted((r.k, r.v) for r in t.read(spark).collect())


def _expected():
    return sorted(
        [(k, "new" if k == 5 else "old") for k in range(1, 11)]
        + [(k, "old") for k in range(100, 111)]
    )


class TestSourceEvaluatedOnce:
    def test_merge_into_shifting_source(self, spark, tmp_path, two_groups):
        src, evals = _shifting_source(spark, tmp_path, with_op=False)
        merge_into(two_groups, spark, src, key="k")
        assert evals() == 1
        # at most one row per key, and the one evaluation's row landed
        assert _state(two_groups, spark) == _expected()

    def test_apply_changes_shifting_source(
        self, spark, tmp_path, two_groups
    ):
        src, evals = _shifting_source(spark, tmp_path, with_op=True)
        apply_changes(two_groups, spark, src, key="k")
        assert evals() == 1
        assert _state(two_groups, spark) == _expected()

    def _counted(self, spark, rows, schema):
        acc = spark.sparkContext.accumulator(0)

        def tick(k):
            acc.add(1)
            return k

        tick_udf = F.udf(tick, "long")
        df = spark.createDataFrame(rows, schema).withColumn(
            "k", tick_udf("k")
        )
        return df, acc

    def test_merge_into_row_evaluations(self, spark, two_groups):
        src, acc = self._counted(
            spark, [(3, "new"), (7, "new"), (50, "new")], "k long, v string"
        )
        merge_into(two_groups, spark, src, key="k")
        assert acc.value == 3
        assert len(_state(two_groups, spark)) == 22

    def test_apply_changes_row_evaluations(self, spark, two_groups):
        # the seq_col resolution runs before the pin: the window's
        # input is evaluated once, like the rest of the call
        src, acc = self._counted(
            spark,
            [(3, "a", "U", 1), (3, "b", "U", 2), (104, None, "D", 1)],
            "k long, v string, op string, seq long",
        )
        apply_changes(two_groups, spark, src, key="k", seq_col="seq")
        assert acc.value == 3
        got = dict(_state(two_groups, spark))
        assert got[3] == "b" and 104 not in got and len(got) == 20


def _jobs(spark, fn):
    """(result, Spark jobs the call ran), counted by a job tag."""
    sc = spark.sparkContext
    tag = f"merge-pin-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return out, len(jsc.statusTracker().getJobIdsForTag(tag))


class TestSmallMerge:
    @pytest.fixture
    def one_group(self, spark, tmp_path):
        """One 50k-row group: a few MB, so a write whose size AQE has
        to discover (the REBALANCE branch) splits it into 2 files."""
        t = VersionedTable(str(tmp_path / "t"))
        t.commit(
            spark.range(0, 50_000, numPartitions=4).selectExpr(
                "id AS k", "sha1(CAST(id AS string)) AS v"
            ),
            mode="overwrite",
        )
        return t

    def test_five_row_merge_is_one_file_and_few_jobs(
        self, spark, one_group
    ):
        t = one_group
        upd = spark.createDataFrame(
            [(k, "new") for k in (3, 500, 1200, 1999, 60_000)],
            "k long, v string",
        )
        v, jobs = _jobs(spark, lambda: merge_into(t, spark, upd, key="k"))
        m = t._load_manifest(v)
        (group,) = m["added"]
        files = [
            n
            for n in os.listdir(os.path.join(t.path, group))
            if n.endswith(".parquet")
        ]
        assert len(files) == 1
        assert jobs <= 6
        got = dict((r.k, r.v) for r in t.read(spark).collect())
        assert len(got) == 50_001 and got[60_000] == got[1200] == "new"

    def test_caller_cache_survives(self, spark, one_group):
        upd = spark.createDataFrame(
            [(7, "new"), (90_000, "new")], "k long, v string"
        ).persist(StorageLevel.MEMORY_ONLY)
        try:
            upd.count()
            merge_into(one_group, spark, upd, key="k")
            assert upd.storageLevel == StorageLevel.MEMORY_ONLY
        finally:
            upd.unpersist()
