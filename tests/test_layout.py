"""Physical-layout tests: partition pruning and row-group clustering —
the distributed stand-ins for the reference's five B-tree indexes
(internal/db/db.go:97-103)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.layout import (
    explain_has_partition_pruning,
    read_pruned,
    write_partitioned,
)
from file_stream_import_spark.io.tables import load_table


class TestPartitionedLayout:
    def test_partition_pruning_kicks_in(self, spark, sf_dir, tmp_path):
        orders = load_table(spark, sf_dir, "orders")
        path = str(tmp_path / "orders_by_priority")
        write_partitioned(
            orders, path, partition_by="o_orderpriority", sort_by="o_orderdate"
        )
        df = read_pruned(spark, path).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        assert explain_has_partition_pruning(df)
        # pruned read returns exactly the partition's rows
        want = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
        assert df.count() == want

    def test_unfiltered_read_round_trips(self, spark, sf_dir, tmp_path):
        orders = load_table(spark, sf_dir, "orders")
        path = str(tmp_path / "orders_rt")
        write_partitioned(
            orders, path, partition_by="o_orderstatus", sort_by="o_orderkey"
        )
        back = read_pruned(spark, path)
        assert back.count() == orders.count()
        # partition column survives with identical values (hive layout)
        a = sorted(r[0] for r in back.select("o_orderstatus").distinct().collect())
        b = sorted(r[0] for r in orders.select("o_orderstatus").distinct().collect())
        assert a == b

    def test_sorted_within_partitions(self, spark, sf_dir, tmp_path):
        li = load_table(spark, sf_dir, "lineitem").limit(10000)
        path = str(tmp_path / "li_sorted")
        write_partitioned(
            li, path, partition_by="l_returnflag", sort_by="l_shipdate"
        )
        # each parquet file must be internally sorted on l_shipdate
        back = read_pruned(spark, path).withColumn(
            "_file", F.input_file_name()
        )
        from pyspark.sql import Window as W

        w = W.partitionBy("_file").orderBy(F.monotonically_increasing_id())
        got = back.withColumn("_prev", F.lag("l_shipdate").over(w)).filter(
            F.col("_prev") > F.col("l_shipdate")
        )
        assert got.count() == 0


class TestJsonIO:
    def test_jsonl_round_trip(self, spark, sf_dir, tmp_path):
        from file_stream_import_spark.io.json_io import read_jsonl, write_jsonl

        nation = load_table(spark, sf_dir, "nation")
        path = str(tmp_path / "nation_jsonl")
        write_jsonl(nation, path)
        back = read_jsonl(spark, path, schema=nation.schema)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, nation.collect())
        )

    def test_jdbc_read_requires_bounds_with_partition_column(self, spark):
        import pytest as _pytest

        from file_stream_import_spark.io.jdbc import read_jdbc

        with _pytest.raises(ValueError, match="lower_bound"):
            read_jdbc(
                spark, "jdbc:postgresql://x/y", "t", partition_column="id"
            )


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, sf_dir):
        from file_stream_import_spark.io.layout import write_bucketed

        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        write_bucketed(li, "t_li_bucketed", "l_orderkey", num_buckets=8)
        write_bucketed(o, "t_o_bucketed", "o_orderkey", num_buckets=8)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # force a non-broadcast join so the bucketing is what saves
            # the shuffle
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = spark.table("t_li_bucketed").join(
                spark.table("t_o_bucketed"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan
            # and it computes the right thing
            assert joined.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
            spark.sql("DROP TABLE IF EXISTS t_o_bucketed")


class TestOrcAndText:
    def test_orc_round_trip_and_filter_pushdown(self, spark, sf_dir, tmp_path):
        import pytest

        from file_stream_import_spark.io.formats import (
            read_avro,
            read_orc,
            write_orc,
        )

        orders = load_table(spark, sf_dir, "orders")
        path = str(tmp_path / "orders_orc")
        write_orc(orders, path)
        back = read_orc(spark, path)
        assert back.count() == orders.count()
        assert set(back.columns) == set(orders.columns)
        # filter must reach the ORC scan, same contract as parquet
        plan = (
            back.filter(F.col("o_orderkey") == 42)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PushedFilters: [" in plan and "o_orderkey" in plan.split(
            "PushedFilters"
        )[1][:120]
        with pytest.raises(NotImplementedError, match="spark-avro"):
            read_avro(spark, path)

    def test_text_lines_per_file_numbering(self, spark, tmp_path):
        from file_stream_import_spark.io.formats import read_text_lines

        d = tmp_path / "shards"
        d.mkdir()
        (d / "s0.txt").write_text("alpha\nbeta\ngamma\n")
        (d / "s1.txt").write_text("one\ntwo\n")
        rows = read_text_lines(spark, str(d)).collect()
        by_file = {}
        for r in rows:
            by_file.setdefault(r["source_file"].rsplit("/", 1)[-1], []).append(
                (r["line_no"], r["text"])
            )
        assert sorted(by_file["s0.txt"]) == [(0, "alpha"), (1, "beta"), (2, "gamma")]
        assert sorted(by_file["s1.txt"]) == [(0, "one"), (1, "two")]


class TestZorderLayout:
    def test_zorder_key_is_correct_morton(self, spark):
        # hand-check the interleave on a tiny grid: bits=2, two columns
        from file_stream_import_spark.io.layout import add_zorder_key

        df = spark.createDataFrame(
            [(x, y) for x in range(4) for y in range(4)], "x int, y int"
        )
        got = {
            (r.x, r.y): r["__zkey"]
            for r in add_zorder_key(df, ["x", "y"], bits=2).collect()
        }

        def morton(a, b):
            z = 0
            for j in range(2):
                z |= ((a >> j) & 1) << (2 * j)
                z |= ((b >> j) & 1) << (2 * j + 1)
            return z

        # min/max scaling maps the 0..3 domain onto 0..3 exactly
        assert got == {
            (x, y): morton(x, y) for x in range(4) for y in range(4)
        }

    def test_zorder_skips_row_groups_on_both_dims(self, spark, tmp_path):
        # a Z-ordered layout must give tight row-group [min,max] bounds
        # on BOTH interleaved columns; a single-column sort only bounds
        # its leading column
        import pyarrow.parquet as pq
        import os

        from file_stream_import_spark.io.layout import write_zordered

        n = 200_000
        df = spark.range(n).select(
            (F.col("id") % 447).alias("x"),
            ((F.col("id") * 7919) % 887).alias("y"),
        )
        zpath = str(tmp_path / "zorder")
        write_zordered(df, zpath, ["x", "y"], bits=10, num_files=4)

        def overlap_fraction(path, col, lo, hi):
            total, hit = 0, 0
            for fn in os.listdir(path):
                if not fn.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(path, fn)).metadata
                idx = md.schema.names.index(col)
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    total += 1
                    if st.max >= lo and st.min <= hi:
                        hit += 1
            return hit / total

        # a narrow predicate on either dimension touches a strict subset
        # of row groups; compare against an unclustered write of the
        # same data (≈ every row group overlaps) rather than a tight
        # absolute cutoff — range-partitioner sampling varies run to
        # run, which made an absolute 0.75 flake under full-suite load
        plain = str(tmp_path / "plain")
        df.repartition(4).write.parquet(plain)
        fx = overlap_fraction(zpath, "x", 0, 44)
        fy = overlap_fraction(zpath, "y", 0, 88)
        assert fx < 0.9, fx
        assert fy < 0.9, fy
        assert fx < overlap_fraction(plain, "x", 0, 44), fx
        assert fy < overlap_fraction(plain, "y", 0, 88), fy
        # and the data round-trips
        assert spark.read.parquet(zpath).count() == n

    def test_compaction_reduces_file_count(self, spark, tmp_path):
        from file_stream_import_spark.io.layout import compact_small_files

        src = str(tmp_path / "fragmented")
        spark.range(50_000).repartition(64).write.parquet(src)
        out = str(tmp_path / "compacted")
        before, after = compact_small_files(
            spark, src, out, target_bytes=1 << 20
        )
        assert before == 64
        assert after < before
        assert (
            spark.read.parquet(out).count()
            == spark.read.parquet(src).count()
        )


class TestJdbcDerbyRoundTrip:
    """Real-database JDBC coverage: Spark ships embedded Derby, so the
    generic JDBC source/sink path (the reference's transport,
    internal/db/db.go) is exercised against an actual SQL engine — not
    a fake connection. (The ON CONFLICT upsert statement itself is
    Postgres-dialect and stays covered by the injected-connection
    tests; Derby proves the write/read/pushdown plumbing.)"""

    def _url(self, tmp_path):
        return f"jdbc:derby:{tmp_path}/db;create=true"

    def test_write_read_round_trip(self, spark, tmp_path):
        from file_stream_import_spark.io.jdbc import read_jdbc, write_jdbc

        df = spark.range(2000).selectExpr(
            "id", "CAST(id % 7 AS STRING) AS grp", "id * 2 AS v"
        )
        url = self._url(tmp_path)
        write_jdbc(df, url, "t_rt", mode="overwrite", num_partitions=4,
                   batchsize=256)
        back = read_jdbc(spark, url, "t_rt")
        assert back.count() == 2000
        assert back.agg({"v": "sum"}).collect()[0][0] == sum(
            i * 2 for i in range(2000)
        )

    def test_partitioned_read_covers_all_rows_once(self, spark, tmp_path):
        from file_stream_import_spark.io.jdbc import read_jdbc, write_jdbc

        df = spark.range(1000).selectExpr("id", "id * 3 AS v")
        url = self._url(tmp_path)
        write_jdbc(df, url, "t_part", mode="overwrite", num_partitions=2)
        back = read_jdbc(
            spark, url, "t_part",
            partition_column="id", lower_bound=0, upper_bound=1000,
            num_partitions=5,
        )
        assert back.rdd.getNumPartitions() == 5
        got = sorted(r["id"] for r in back.collect())
        assert got == list(range(1000))  # no dup, no loss at slice edges

    def test_filter_pushes_down_to_database(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from file_stream_import_spark.io.jdbc import read_jdbc, write_jdbc

        df = spark.range(500).selectExpr("id", "id % 10 AS bucket")
        url = self._url(tmp_path)
        write_jdbc(df, url, "t_push", mode="overwrite", num_partitions=1)
        filtered = read_jdbc(spark, url, "t_push").filter(F.col("bucket") == 3)
        plan = filtered._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "bucket" in plan
        assert filtered.count() == 50

    def test_append_accumulates(self, spark, tmp_path):
        from file_stream_import_spark.io.jdbc import read_jdbc, write_jdbc

        url = self._url(tmp_path)
        a = spark.range(100).selectExpr("id", "id AS v")
        b = spark.range(100, 250).selectExpr("id", "id AS v")
        write_jdbc(a, url, "t_app", mode="overwrite", num_partitions=2)
        write_jdbc(b, url, "t_app", mode="append", num_partitions=2)
        assert read_jdbc(spark, url, "t_app").count() == 250

    def test_merge_upsert_last_writer_wins_on_real_db(self, spark, tmp_path):
        # the reference's O5 semantics (multi-row keyed upsert, last
        # writer wins, db.go:63-72) executed against a REAL SQL engine:
        # chunk -> staging table -> standard MERGE (SURVEY SS7 upsert
        # option (c)) on embedded Derby via the JVM's DriverManager, two
        # waves with overlapping keys + an intra-chunk duplicate
        from file_stream_import_spark.io.jdbc import build_merge_from_table_sql

        url = f"jdbc:derby:{tmp_path}/mergedb;create=true"
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        st = conn.createStatement()
        ddl = ("(locid VARCHAR(16) PRIMARY KEY, "
               "country VARCHAR(16), business VARCHAR(16))")
        st.executeUpdate("CREATE TABLE locations " + ddl)
        st.executeUpdate("CREATE TABLE staging " + ddl)
        merge_sql = build_merge_from_table_sql(
            "locations", "staging", "locid",
            ["locid", "country", "business"],
        )

        def merge(rows):
            # intra-chunk dedup, last wins - same rule as upsert_postgres
            seen = {}
            for r in rows:
                seen[r[0]] = r
            ps = conn.prepareStatement(
                "INSERT INTO staging VALUES (?, ?, ?)"
            )
            for row in seen.values():
                for i, v in enumerate(row, start=1):
                    ps.setString(i, v)
                ps.addBatch()
            ps.executeBatch()
            ps.close()
            st.executeUpdate(merge_sql)
            st.executeUpdate("DELETE FROM staging")

        merge([
            ("L1", "US", "cafe"),
            ("L2", "DE", "shop"),
            ("L1", "FR", "bar"),   # intra-chunk dup: FR must win
        ])
        merge([
            ("L2", "JP", "mart"),  # cross-wave update
            ("L3", "BR", "kiosk"),
        ])

        rs = st.executeQuery(
            "SELECT locid, country, business FROM locations ORDER BY locid"
        )
        got = []
        while rs.next():
            got.append((rs.getString(1), rs.getString(2), rs.getString(3)))
        conn.close()
        assert got == [
            ("L1", "FR", "bar"),
            ("L2", "JP", "mart"),
            ("L3", "BR", "kiosk"),
        ]


class TestXmlAndBinary:
    def test_xml_round_trip_with_schema(self, spark, sf_dir, tmp_path):
        from file_stream_import_spark.io.formats import read_xml, write_xml
        from file_stream_import_spark.io.tables import load_table

        src = load_table(spark, sf_dir, "region").select(
            "r_regionkey", "r_name"
        )
        path = str(tmp_path / "regions_xml")
        write_xml(src, path, row_tag="region", root_tag="regions")
        back = read_xml(
            spark, path, row_tag="region",
            schema="r_regionkey bigint, r_name string",
        )
        assert sorted(
            (r.r_regionkey, r.r_name) for r in back.collect()
        ) == sorted((r.r_regionkey, r.r_name) for r in src.collect())

    def test_binary_files_feed_multimodal_kernels(self, spark, tmp_path):
        """The multimodal ingestion path end-to-end: real files on disk
        -> binaryFile scan -> BMP round-trip features, with the content
        column renamed into the kernels' payload contract."""
        from pyspark.sql import functions as F

        from file_stream_import_spark.io.formats import read_binary_files
        from file_stream_import_spark.operators.multimodal import (
            bmp_roundtrip_features,
        )

        d = tmp_path / "blobs"
        d.mkdir()
        payloads = {0: b"alpha blob", 1: b"b" * 61, 2: bytes(range(64))}
        for i, p in payloads.items():
            (d / f"{i:04d}.bin").write_bytes(p)
        (d / "ignore.txt").write_text("not a blob")
        bf = read_binary_files(spark, str(d), glob="*.bin")
        df = bf.select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("content").alias("payload"),
        )
        feats = {
            r.doc_id: (r.width, r.height, r.n_pad)
            for r in bmp_roundtrip_features(df).collect()
        }
        assert set(feats) == {0, 1, 2}
        for i, p in payloads.items():
            h = max(1, -(-len(p) // 30))
            assert feats[i] == (30, h, 30 * h - len(p))

    def test_binary_length_only_read_prunes_content(self, spark, tmp_path):
        from file_stream_import_spark.io.formats import read_binary_files

        d = tmp_path / "blobs2"
        d.mkdir()
        (d / "x.bin").write_bytes(b"12345")
        df = read_binary_files(spark, str(d)).select("length")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "content" not in plan  # column pruned at the source
        assert df.collect()[0].length == 5


class TestAvroLocal:
    SCHEMA = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "score", "type": "double"},
        ],
    }
    ROWS = [(1, "alpha", 1.5), (2, None, -2.25), (-3, "zz", 0.0)]

    def test_datasource_reads_container_files(self, spark, tmp_path):
        from file_stream_import_spark.io.avro_local import (
            AvroLocalDataSource,
            write_container,
        )

        d = tmp_path / "av"
        d.mkdir()
        write_container(str(d / "a.avro"), self.SCHEMA, self.ROWS[:2])
        write_container(str(d / "b.avro"), self.SCHEMA, self.ROWS[2:])
        spark.dataSource.register(AvroLocalDataSource)
        df = (
            spark.read.format("avro_local")
            .option("path", str(d))
            .load()
        )
        assert dict(df.dtypes) == {
            "id": "bigint", "name": "string", "score": "double",
        }
        got = sorted((r.id, r.name, r.score) for r in df.collect())
        assert got == sorted(self.ROWS)

    def test_interop_jvm_reference_reads_our_files(self, spark, tmp_path):
        """Spec-compliance proof: the Apache Avro REFERENCE Java
        implementation (avro-1.12.1.jar, on the Spark classpath) must
        parse a container written by our stdlib codec — magic,
        metadata, sync markers, deflate blocks, zigzag varints and
        union branches all verified by the implementation that defines
        the format."""
        from file_stream_import_spark.io.avro_local import write_container

        p = str(tmp_path / "ours.avro")
        write_container(p, self.SCHEMA, self.ROWS, codec="deflate")
        jvm = spark.sparkContext._jvm
        reader = jvm.org.apache.avro.generic.GenericDatumReader()
        dfr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(p), reader
        )
        got = []
        while dfr.hasNext():
            rec = dfr.next()
            name = rec.get("name")
            got.append(
                (rec.get("id"), None if name is None else str(name),
                 rec.get("score"))
            )
        dfr.close()
        assert got == self.ROWS

    def test_interop_we_read_jvm_reference_files(self, spark, tmp_path):
        """And the reverse: a container written by the reference Java
        implementation round-trips through our reader."""
        import json as _json

        from file_stream_import_spark.io.avro_local import read_container

        jvm = spark.sparkContext._jvm
        sch = jvm.org.apache.avro.Schema.Parser().parse(
            _json.dumps(self.SCHEMA)
        )
        p = str(tmp_path / "theirs.avro")
        writer = jvm.org.apache.avro.file.DataFileWriter(
            jvm.org.apache.avro.generic.GenericDatumWriter(sch)
        )
        writer.setCodec(
            jvm.org.apache.avro.file.CodecFactory.deflateCodec(6)
        )
        writer.create(sch, jvm.java.io.File(p))
        for rid, name, score in self.ROWS:
            rec = jvm.org.apache.avro.generic.GenericData.Record(sch)
            rec.put("id", rid)
            rec.put("name", name)
            rec.put("score", score)
            writer.append(rec)
        writer.close()
        _, got = read_container(p)
        assert got == self.ROWS

    VALUE_FIRST_SCHEMA = {
        "type": "record",
        "name": "vf",
        "fields": [
            {"name": "id", "type": "long"},
            # legal Avro: the null branch SECOND — branch index 1 means
            # null, 0 means the value (ADVICE r6: assuming null==0 made
            # 42 decode as None and desynced the stream)
            {"name": "n", "type": ["long", "null"]},
            {"name": "s", "type": ["string", "null"]},
        ],
    }
    VF_ROWS = [(1, 42, "a"), (2, None, None), (3, -7, "zz")]

    def test_value_first_union_roundtrip(self, tmp_path):
        from file_stream_import_spark.io.avro_local import (
            read_container,
            write_container,
        )

        p = str(tmp_path / "vf.avro")
        write_container(p, self.VALUE_FIRST_SCHEMA, self.VF_ROWS)
        _, got = read_container(p)
        assert got == self.VF_ROWS

    def test_value_first_union_interop_jvm_reads_ours(
        self, spark, tmp_path
    ):
        """The Java reference must agree on the branch indices of a
        value-first union file we wrote."""
        from file_stream_import_spark.io.avro_local import write_container

        p = str(tmp_path / "vf.avro")
        write_container(p, self.VALUE_FIRST_SCHEMA, self.VF_ROWS)
        jvm = spark.sparkContext._jvm
        reader = jvm.org.apache.avro.generic.GenericDatumReader()
        dfr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(p), reader
        )
        got = []
        while dfr.hasNext():
            rec = dfr.next()
            s = rec.get("s")
            got.append(
                (rec.get("id"), rec.get("n"),
                 None if s is None else str(s))
            )
        dfr.close()
        assert got == self.VF_ROWS

    def test_value_first_union_interop_we_read_jvm(self, spark, tmp_path):
        import json as _json

        from file_stream_import_spark.io.avro_local import read_container

        jvm = spark.sparkContext._jvm
        sch = jvm.org.apache.avro.Schema.Parser().parse(
            _json.dumps(self.VALUE_FIRST_SCHEMA)
        )
        p = str(tmp_path / "vf_theirs.avro")
        writer = jvm.org.apache.avro.file.DataFileWriter(
            jvm.org.apache.avro.generic.GenericDatumWriter(sch)
        )
        writer.create(sch, jvm.java.io.File(p))
        # py4j sends ints <= Integer.MAX_VALUE as java.lang.Integer,
        # which Avro's ["long","null"] union rejects — use values
        # outside int32 range so the bridge boxes them as Long
        big = 1 << 33
        rows = [
            (rid + big, None if n is None else n + big, s)
            for rid, n, s in self.VF_ROWS
        ]
        for rid, n, s in rows:
            rec = jvm.org.apache.avro.generic.GenericData.Record(sch)
            rec.put("id", rid)
            rec.put("n", n)
            rec.put("s", s)
            writer.append(rec)
        writer.close()
        _, got = read_container(p)
        assert got == rows

    def test_unsupported_shapes_fail_fast_with_remedy(self, tmp_path):
        from file_stream_import_spark.io.avro_local import (
            schema_to_ddl,
        )

        with pytest.raises(NotImplementedError, match="spark-avro"):
            schema_to_ddl(
                {
                    "type": "record",
                    "name": "r",
                    "fields": [
                        {"name": "xs",
                         "type": {"type": "array", "items": "long"}}
                    ],
                }
            )


class TestJpegCodec:
    """Baseline-sequential JPEG (r7): exact flat-tile roundtrip and
    both interop directions against the javax.imageio reference."""

    def _tiles(self, payload: bytes, bpr: int = 16) -> bytes:
        n = len(payload)
        nbr = max(1, (n + bpr - 1) // bpr)
        blocks = list(payload) + [0] * (bpr * nbr - n)
        out = bytearray()
        for r in range(nbr):
            row = b"".join(bytes([v]) * 8 for v in blocks[r * bpr : (r + 1) * bpr])
            out += row * 8
        return bytes(out)

    def test_flat_tile_roundtrip_is_exact(self):
        import os

        from file_stream_import_spark.operators.multimodal import (
            jpeg_decode,
            jpeg_encode,
        )

        for payload in (
            b"",
            b"x",
            bytes(range(256)),
            b"hello jpeg tiles " * 13,
            os.urandom(1000),
        ):
            w, h, px = jpeg_decode(jpeg_encode(payload))
            nbr = max(1, (len(payload) + 15) // 16)
            assert (w, h) == (128, 8 * nbr)
            assert px == self._tiles(payload)

    def test_corrupt_and_unsupported_fail_loudly(self):
        import pytest as _pytest

        from file_stream_import_spark.operators.multimodal import (
            jpeg_decode,
            jpeg_encode,
        )

        with _pytest.raises(ValueError, match="SOI"):
            jpeg_decode(b"not a jpeg")
        jp = bytearray(jpeg_encode(b"abc"))
        # flip SOF0 to SOF2 (progressive): fail fast with the remedy
        i = jp.find(b"\xff\xc0")
        jp[i + 1] = 0xC2
        with _pytest.raises(NotImplementedError, match="baseline"):
            jpeg_decode(bytes(jp))

    def test_interop_imageio_reads_our_jpeg(self, spark, tmp_path):
        """The JVM reference decoder must reproduce our tiles exactly
        (DC-only blocks decode identically under any conformant IDCT)."""
        from file_stream_import_spark.operators.multimodal import (
            jpeg_encode,
        )

        payload = bytes(range(256)) + b"tail bytes, partial block row"
        p = str(tmp_path / "ours.jpg")
        open(p, "wb").write(jpeg_encode(payload))
        jvm = spark.sparkContext._jvm
        img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(p))
        assert img is not None
        w, h = img.getWidth(), img.getHeight()
        exp = self._tiles(payload)
        assert (w, h) == (128, 8 * ((len(payload) + 15) // 16))
        ras = img.getRaster()
        for y in range(h):
            for x in range(w):
                assert ras.getSample(x, y, 0) == exp[y * w + x]

    def test_interop_we_read_imageio_jpeg(self, spark, tmp_path):
        """Our generic baseline decoder on a LOSSY ImageIO-encoded
        gradient (real AC coefficients, real Huffman tables from the
        file's own DHT): within the T.81 IDCT accuracy tolerance of
        the reference's own decode (+-1 per pixel)."""
        from file_stream_import_spark.operators.multimodal import (
            jpeg_decode,
        )

        jvm = spark.sparkContext._jvm
        BI = jvm.java.awt.image.BufferedImage
        img = BI(48, 32, BI.TYPE_BYTE_GRAY)
        ras = img.getRaster()
        for y in range(32):
            for x in range(48):
                ras.setSample(x, y, 0, (x * 5 + y * 3) % 256)
        p = str(tmp_path / "theirs.jpg")
        assert jvm.javax.imageio.ImageIO.write(
            img, "jpg", jvm.java.io.File(p)
        )
        ref = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(p))
        rr = ref.getRaster()
        w, h, px = jpeg_decode(open(p, "rb").read())
        assert (w, h) == (48, 32)
        worst = max(
            abs(rr.getSample(x, y, 0) - px[y * w + x])
            for y in range(h)
            for x in range(w)
        )
        assert worst <= 1

    def test_jpeg_roundtrip_features_frame(self, spark):
        from file_stream_import_spark.operators.multimodal import (
            _frame_checksum,
            jpeg_roundtrip_features,
        )

        df = spark.createDataFrame(
            [(1, bytearray(b"abcdef")), (2, bytearray(bytes(range(40))))],
            "doc_id long, payload binary",
        )
        got = {r.doc_id: r for r in jpeg_roundtrip_features(df).collect()}
        for did, payload in ((1, b"abcdef"), (2, bytes(range(40)))):
            exp = self._tiles(payload)
            r = got[did]
            assert (r.width, r.height) == (128, 8 * max(1, (len(payload) + 15) // 16))
            assert r.n_pad_px == r.width * r.height - 64 * len(payload)
            assert r.mean_pixel_ppm == sum(exp) * 1_000_000 // (r.width * r.height)
            assert r.px_checksum == _frame_checksum(exp)


class TestMjpegAvi:
    """MJPEG-in-AVI container (r7): RIFF grammar round trip, corrupt
    and foreign-codec rejection, frame-feature fan-out."""

    def _frames(self, payload: bytes):
        from file_stream_import_spark.operators.multimodal import (
            AVI_FRAME_BYTES,
            jpeg_encode,
        )

        n = max(1, -(-len(payload) // AVI_FRAME_BYTES))
        return [
            jpeg_encode(
                payload[i * AVI_FRAME_BYTES : (i + 1) * AVI_FRAME_BYTES]
                .ljust(AVI_FRAME_BYTES, b"\x00"),
                blocks_per_row=8,
            )
            for i in range(n)
        ]

    def test_container_roundtrip(self):
        from file_stream_import_spark.operators.multimodal import (
            avi_decode_mjpeg,
            avi_encode_mjpeg,
            jpeg_decode,
        )

        payload = bytes(range(256)) + b"tail"
        frames = self._frames(payload)
        avi = avi_encode_mjpeg(frames, 64, 64)
        w, h, back = avi_decode_mjpeg(avi)
        assert (w, h) == (64, 64)
        assert back == frames  # byte-identical chunk extraction
        # and every extracted frame decodes to the expected flat tiles
        for i, fr in enumerate(back):
            fw, fh, px = jpeg_decode(fr)
            assert (fw, fh) == (64, 64)
            sl = payload[i * 64 : (i + 1) * 64].ljust(64, b"\x00")
            assert px[:8] == bytes([sl[0]]) * 8

    def test_corrupt_and_foreign_fail_loudly(self):
        import pytest as _pytest

        from file_stream_import_spark.operators.multimodal import (
            avi_decode_mjpeg,
            avi_encode_mjpeg,
        )

        with _pytest.raises(ValueError, match="RIFF"):
            avi_decode_mjpeg(b"not an avi at all")
        avi = bytearray(avi_encode_mjpeg(self._frames(b"abc"), 64, 64))
        # truncate inside movi: the chunk walk must notice
        with _pytest.raises(ValueError):
            avi_decode_mjpeg(bytes(avi[:-10]))
        # flip the stream handler to a foreign codec: fail with remedy
        i = avi.find(b"vids") + 4
        avi[i : i + 4] = b"H264"
        with _pytest.raises(NotImplementedError, match="MJPG"):
            avi_decode_mjpeg(bytes(avi))

    def test_frame_features_dataframe(self, spark):
        from file_stream_import_spark.operators.multimodal import (
            _frame_checksum,
            mjpeg_video_frame_features,
        )

        payload = bytes(range(200))  # 4 frames, last zero-padded
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "doc_id long, payload binary"
        )
        got = {
            r.frame_idx: r
            for r in mjpeg_video_frame_features(df).collect()
        }
        assert sorted(got) == [0, 1, 2, 3]
        for i in sorted(got):
            sl = payload[i * 64 : (i + 1) * 64].ljust(64, b"\x00")
            exp = b"".join(
                b"".join(bytes([v]) * 8 for v in sl[r * 8 : r * 8 + 8]) * 8
                for r in range(8)
            )
            r = got[i]
            assert (r.width, r.height) == (64, 64)
            assert r.mean_pixel_ppm == sum(exp) * 1_000_000 // 4096
            assert r.px_checksum == _frame_checksum(exp)


class TestOnConflictRealEngine:
    """r13 (VERDICT item 6): the Postgres-dialect ON CONFLICT statement
    (io/jdbc.py::build_upsert_sql — the exact per-chunk SQL the
    reference emits, internal/db/db.go:63-72) executed VERBATIM on a
    real SQL engine. DuckDB implements the same ``INSERT ... ON
    CONFLICT (key) DO UPDATE SET c = EXCLUDED.c`` dialect; the only
    adaptation is the DBAPI paramstyle marker (%s -> ?), not the
    statement shape. Last-writer-wins asserted across two waves, the
    reference's O5 lifecycle."""

    def test_upsert_sql_runs_on_duckdb(self):
        import duckdb

        from file_stream_import_spark.io.jdbc import build_upsert_sql

        con = duckdb.connect()
        con.sql(
            "CREATE TABLE locations ("
            "locid BIGINT PRIMARY KEY, name VARCHAR, lat DOUBLE, "
            "lon DOUBLE)"
        )
        cols = ["locid", "name", "lat", "lon"]
        wave1 = [
            (1, "a", 1.0, 2.0),
            (2, "b", 3.0, 4.0),
            (3, "c", 5.0, 6.0),
        ]
        sql = build_upsert_sql("locations", "locid", cols, len(wave1))
        con.execute(
            sql.replace("%s", "?"),
            [v for row in wave1 for v in row],
        )
        # update wave: locid 2 rewritten, locid 4 inserted
        wave2 = [(2, "B2", 30.0, 40.0), (4, "d", 7.0, 8.0)]
        sql2 = build_upsert_sql("locations", "locid", cols, len(wave2))
        con.execute(
            sql2.replace("%s", "?"),
            [v for row in wave2 for v in row],
        )
        got = con.sql(
            "SELECT locid, name, lat FROM locations ORDER BY locid"
        ).fetchall()
        assert got == [
            (1, "a", 1.0),
            (2, "B2", 30.0),
            (3, "c", 5.0),
            (4, "d", 7.0),
        ]

    def test_statement_text_is_reference_shape(self):
        from file_stream_import_spark.io.jdbc import build_upsert_sql

        sql = build_upsert_sql("locations", "locid", ["locid", "x"], 2)
        assert "ON CONFLICT (locid) DO UPDATE SET" in sql
        assert "x = EXCLUDED.x" in sql
        assert sql.count("(%s, %s)") == 2
