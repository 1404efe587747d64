"""Structured Streaming behavior tests: stream-vs-batch window parity,
watermark late-data dropping, and watermark-bounded dedup — driven by
file-source micro-batches (one file per trigger) into memory sinks."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from file_stream_import_spark.io.tables import load_table
from file_stream_import_spark.streaming import (
    attribution_join,
    read_events_stream,
    run_to_memory,
    session_counts,
    stream_dedup,
    tumbling_counts,
)


def write_events(df, path):
    df.coalesce(1).write.mode("append").parquet(path)


def make_events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def qname() -> str:
    return "q" + uuid.uuid4().hex[:10]


class TestStreamBatchParity:
    def test_tumbling_stream_equals_batch(self, spark, sf_dir, tmp_path):
        events = load_table(spark, sf_dir, "events")
        src = str(tmp_path / "events_stream")
        write_events(events, src)
        name = qname()
        q = run_to_memory(
            tumbling_counts(read_events_stream(spark, src)), name, "append"
        )
        try:
            got = {
                (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
            want = {
                (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
                for r in tumbling_counts(events).collect()
            }
            # append mode emits only windows closed by the watermark; every
            # emitted window must match its batch twin, and most must emit
            assert got and all(got[k] == want[k] for k in got)
            assert len(got) >= len(want) - 10  # only the tail can be open
        finally:
            q.stop()

    def test_attribution_join_stream_equals_batch(self, spark, sf_dir, tmp_path):
        events = load_table(spark, sf_dir, "events")
        src = str(tmp_path / "events_stream")
        write_events(events, src)
        name = qname()
        q = run_to_memory(
            attribution_join(read_events_stream(spark, src)), name, "append"
        )
        try:
            got = {
                (r["click_id"], r["purchase_id"])
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
            want = {
                (r["click_id"], r["purchase_id"])
                for r in attribution_join(events).collect()
            }
            # stream-stream inner join emits matches as both sides arrive;
            # a single-file source delivers everything in one micro-batch,
            # so the streamed result must equal the batch join exactly
            assert got == want and got
        finally:
            q.stop()

    def test_session_stream_equals_batch(self, spark, tmp_path):
        rows = [
            # user 1: two sessions (gap of 2h between event 2 and 3)
            (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
            (2, "2024-01-01 10:10:00", 1, "click", 2.0, "{}"),
            (3, "2024-01-01 12:30:00", 1, "view", 3.0, "{}"),
            # user 2: one session
            (4, "2024-01-01 09:00:00", 2, "click", 4.0, "{}"),
            # flush row far in the future so the watermark closes everything
            (5, "2024-01-02 00:00:00", 9, "view", 0.0, "{}"),
        ]
        df = make_events(spark, rows)
        src = str(tmp_path / "sessions_stream")
        write_events(df, src)
        name = qname()
        q = run_to_memory(
            session_counts(read_events_stream(spark, src), gap="30 minutes"),
            name,
            "append",
        )
        try:
            got = sorted(
                (r["user_id"], r["session_start"], r["n_events"])
                for r in spark.sql(f"SELECT * FROM {name}").collect()
                if r["user_id"] != 9
            )
            assert got == [
                (1, "2024-01-01 10:00:00.000000", 2),
                (1, "2024-01-01 12:30:00.000000", 1),
                (2, "2024-01-01 09:00:00.000000", 1),
            ]
        finally:
            q.stop()


class TestWatermark:
    def test_late_rows_beyond_watermark_are_dropped(self, spark, tmp_path):
        src = str(tmp_path / "late_stream")
        on_time = make_events(
            spark,
            [
                (1, "2024-01-01 10:05:00", 1, "click", 1.0, "{}"),
                (2, "2024-01-01 14:00:00", 1, "click", 1.0, "{}"),  # advances watermark to 12:00
            ],
        )
        write_events(on_time, src)
        name = qname()
        stream = tumbling_counts(
            read_events_stream(spark, src), size="1 hour", watermark="2 hours"
        )
        q = run_to_memory(stream, name, "append")
        try:
            # micro-batch 2: a row for the already-closed 10:00 window
            late = make_events(
                spark, [(3, "2024-01-01 10:20:00", 1, "click", 9.0, "{}")]
            )
            write_events(late, src)
            q.processAllAvailable()
            rows = {
                r["window_start"]: r["n_events"]
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
            # 10:00 window emitted with ONLY the on-time row; late row dropped
            assert rows.get("2024-01-01 10:00:00") == 1
        finally:
            q.stop()

    def test_dedup_within_watermark_drops_duplicate_event_ids(self, spark, tmp_path):
        src = str(tmp_path / "dedup_stream")
        b1 = make_events(
            spark,
            [
                (100, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
                (101, "2024-01-01 10:01:00", 1, "view", 1.0, "{}"),
            ],
        )
        write_events(b1, src)
        name = qname()
        q = run_to_memory(
            stream_dedup(read_events_stream(spark, src), watermark="1 hour"),
            name,
            "append",
        )
        try:
            # duplicate event_id 100 arrives in a later micro-batch
            b2 = make_events(
                spark,
                [
                    (100, "2024-01-01 10:02:00", 1, "click", 1.0, "{}"),
                    (102, "2024-01-01 10:03:00", 2, "click", 1.0, "{}"),
                ],
            )
            write_events(b2, src)
            q.processAllAvailable()
            ids = [r["event_id"] for r in spark.sql(f"SELECT event_id FROM {name}").collect()]
            assert sorted(ids) == [100, 101, 102]  # 100 emitted once
        finally:
            q.stop()


def state_metrics(q):
    """Flatten (batch_id, operator) state metrics from recentProgress."""
    out = []
    for p in q.recentProgress:
        for so in p["stateOperators"]:
            out.append(
                {
                    "batch": p["batchId"],
                    "op": so.get("operatorName"),
                    "total": so.get("numRowsTotal"),
                    "removed": so.get("numRowsRemoved"),
                    "dropped": so.get("numRowsDroppedByWatermark"),
                }
            )
    return out


class TestStateCleanup:
    """The bounded-state claims, asserted on Spark's own state-store
    metrics (numRowsRemoved / numRowsDroppedByWatermark / numRowsTotal)
    instead of docstrings."""

    def test_agg_state_evicted_and_late_rows_counted(self, spark, tmp_path):
        src = str(tmp_path / "agg_state")
        write_events(
            make_events(
                spark,
                [
                    (1, "2024-01-01 10:05:00", 1, "click", 1.0, "{}"),
                    (2, "2024-01-01 14:00:00", 1, "click", 1.0, "{}"),
                ],
            ),
            src,
        )
        name = qname()
        q = run_to_memory(
            tumbling_counts(
                read_events_stream(spark, src), size="1 hour", watermark="2 hours"
            ),
            name,
            "append",
        )
        try:
            # late row for the already-closed 10:00 window
            write_events(
                make_events(
                    spark, [(3, "2024-01-01 10:20:00", 1, "click", 9.0, "{}")]
                ),
                src,
            )
            q.processAllAvailable()
            m = state_metrics(q)
            # the closed 10:00 window's state row was evicted...
            assert sum(r["removed"] for r in m) >= 1
            # ...the late row was dropped by the watermark, not aggregated...
            assert sum(r["dropped"] for r in m) >= 1
            # ...and final state holds only the still-open window(s)
            assert m[-1]["total"] <= 1
        finally:
            q.stop()

    def test_dedup_state_evicted_and_late_dupes_counted(self, spark, tmp_path):
        src = str(tmp_path / "dedup_state")
        write_events(
            make_events(
                spark,
                [
                    (100, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
                    (101, "2024-01-01 14:00:00", 1, "view", 1.0, "{}"),
                ],
            ),
            src,
        )
        name = qname()
        q = run_to_memory(
            stream_dedup(read_events_stream(spark, src), watermark="1 hour"),
            name,
            "append",
        )
        try:
            # duplicate of 100, older than the advanced watermark (13:00)
            write_events(
                make_events(
                    spark, [(100, "2024-01-01 10:30:00", 1, "click", 1.0, "{}")]
                ),
                src,
            )
            q.processAllAvailable()
            m = state_metrics(q)
            assert any(r["op"] == "dedupeWithinWatermark" for r in m)
            # event 100's key was evicted once the watermark passed it
            assert sum(r["removed"] for r in m) >= 1
            # the late duplicate was dropped by the watermark filter
            assert sum(r["dropped"] for r in m) >= 1
            # state is bounded: only keys newer than the watermark remain
            assert m[-1]["total"] <= 1
        finally:
            q.stop()

    def test_attribution_join_state_bounded(self, spark, tmp_path):
        """Regression for the stalled-watermark bug: the watermark is on
        ts BEFORE the click/purchase filters, so batches containing only
        ONE event type still advance it and old join state is evicted.
        With filter-then-watermark the click side's clock froze and
        numRowsTotal grew monotonically."""
        src = str(tmp_path / "join_state")
        write_events(
            make_events(
                spark,
                [
                    (10, "2024-01-01 10:00:00", 1, "click", 0.0, "{}"),
                    (11, "2024-01-01 11:00:00", 1, "purchase", 5.0, "{}"),
                ],
            ),
            src,
        )
        name = qname()
        q = run_to_memory(
            attribution_join(read_events_stream(spark, src)), name, "append"
        )
        try:
            # purchases only — no clicks ever again
            for i, ts in enumerate(
                ["2024-01-02 00:00:00", "2024-01-02 06:00:00"]
            ):
                write_events(
                    make_events(spark, [(20 + i, ts, 9, "purchase", 1.0, "{}")]),
                    src,
                )
                q.processAllAvailable()
            m = [r for r in state_metrics(q) if r["op"] == "symmetricHashJoin"]
            # the matched click/purchase state from batch 0 was evicted
            # once the watermark passed c_ts + within
            assert sum(r["removed"] for r in m) >= 2
            # final state holds at most the newest unexpired purchase
            assert m[-1]["total"] <= 1
            # and the join still produced exactly the attribution pair
            got = {
                (r["click_id"], r["purchase_id"])
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
            assert got == {(10, 11)}
        finally:
            q.stop()


class TestBatchTwins:
    def test_stream_dedup_batch_twin(self, spark):
        df = make_events(
            spark,
            [
                (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
                (1, "2024-01-01 10:05:00", 1, "click", 1.0, "{}"),
                (2, "2024-01-01 10:06:00", 1, "view", 1.0, "{}"),
            ],
        )
        assert stream_dedup(df).count() == 2


class TestStatefulRunningTotals:
    def test_state_survives_micro_batches(self, spark, tmp_path):
        """Two drop files → two micro-batches (maxFilesPerTrigger=1); the
        second batch's emissions must include counts from the first."""
        from file_stream_import_spark.streaming.stateful import (
            user_running_totals,
        )

        src = str(tmp_path / "drops")
        b1 = make_events(
            spark,
            [
                (1, "2024-01-01 00:00:00", 7, "click", 1.0, "{}"),
                (2, "2024-01-01 00:01:00", 7, "click", 2.0, "{}"),
                (3, "2024-01-01 00:02:00", 8, "view", 5.0, "{}"),
            ],
        )
        b2 = make_events(
            spark,
            [
                (4, "2024-01-01 01:00:00", 7, "click", 4.0, "{}"),
                (5, "2024-01-01 01:01:00", 9, "view", 9.0, "{}"),
            ],
        )
        write_events(b1, src)
        name = qname()
        stream = read_events_stream(spark, src).select("user_id", "value")
        q = (
            user_running_totals(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            write_events(b2, src)
            q.processAllAvailable()
            rows = spark.sql(f"SELECT * FROM {name}").collect()
            # user 7: batch1 emission (2, 3.0), batch2 emission (3, 7.0)
            u7 = sorted(
                [(r["n_events"], r["sum_value"]) for r in rows if r["user_id"] == 7]
            )
            assert u7 == [(2, 3.0), (3, 7.0)]
            # user 8 only in batch 1; user 9 only in batch 2
            u8 = [(r["n_events"], r["sum_value"]) for r in rows if r["user_id"] == 8]
            u9 = [(r["n_events"], r["sum_value"]) for r in rows if r["user_id"] == 9]
            assert u8 == [(1, 5.0)] and u9 == [(1, 9.0)]
        finally:
            q.stop()


class TestContinuousCsvUpsert:
    def test_flagship_loop_csv_drops_to_upserted_state(self, spark, tmp_path):
        """The reference's full ingest lifecycle (SURVEY §3.1) run
        continuously: two CSV drops → two micro-batches → final state has
        last-writer-wins rows with stable ids."""
        from file_stream_import_spark.streaming.ingest import (
            latest_state,
            stream_csv_upsert,
        )

        drop = tmp_path / "drops"
        drop.mkdir()
        state = str(tmp_path / "state")
        header = "locid,loctimezone,country,locname,business\n"
        (drop / "f1.csv").write_text(
            header + "L1,UTC,US,First,Biz1\nL2,UTC,DE,Second,Biz2\n"
        )
        q = stream_csv_upsert(
            spark, str(drop), state, str(tmp_path / "ckpt")
        )
        try:
            q.processAllAvailable()
            s1 = {r["locid"]: r for r in latest_state(spark, state).collect()}
            assert set(s1) == {"L1", "L2"}
            id_l2 = s1["L2"]["id"]

            (drop / "f2.csv").write_text(
                header + "L2,UTC,DE,SecondV2,Biz2b\nL3,UTC,FR,Third,Biz3\n"
            )
            q.processAllAvailable()
            s2 = {r["locid"]: r for r in latest_state(spark, state).collect()}
            assert set(s2) == {"L1", "L2", "L3"}
            assert s2["L2"]["locname"] == "SecondV2"  # last writer won
            assert s2["L2"]["id"] == id_l2  # id stable across update
            assert s2["L1"]["locname"] == "First"  # untouched rows survive
        finally:
            q.stop()


class TestTrendingForeachBatch:
    def test_stream_leaderboard_matches_batch_rank(self, spark, tmp_path):
        """Two micro-batches of events; after the stream drains, the
        foreachBatch-maintained leaderboard must equal the batch
        top-k over the union of all events — including a second-batch
        surge that REORDERS a window's leaders (the update-mode path:
        an existing (window, key) count is overwritten, not appended).
        """
        import time as _t

        from pyspark.sql import functions as F

        from file_stream_import_spark.streaming.trending import (
            rank_counts,
            trending_stream,
        )

        drop = tmp_path / "drops"
        drop.mkdir()
        ck = str(tmp_path / "ck")

        def mk(rows):
            return spark.createDataFrame(
                [
                    (i, f"2024-01-01 {h:02d}:{m:02d}:00", u, et, 1.0, "{}")
                    for i, (h, m, u, et) in enumerate(rows)
                ],
                "event_id long, ts string, user_id long, event_type string,"
                " value double, props string",
            ).withColumn("ts", F.col("ts").cast("timestamp"))

        # batch 1: hour 10 — click leads 3:2
        b1 = [(10, 0, 1, "click"), (10, 5, 2, "click"), (10, 10, 3, "click"),
              (10, 1, 1, "view"), (10, 2, 2, "view")]
        # batch 2: hour 10 surge — view overtakes 5:3; hour 11 appears
        b2 = [(10, 20, 4, "view"), (10, 21, 5, "view"), (10, 22, 6, "view"),
              (11, 0, 1, "buy")]
        mk(b1).coalesce(1).write.mode("append").parquet(str(drop))

        store: dict = {}
        q = trending_stream(spark, str(drop), ck, store, k=2)
        try:
            deadline = _t.time() + 60
            while _t.time() < deadline:
                if store.get("top", {}).get("2024-01-01 10:00:00"):
                    break
                _t.sleep(0.5)
            assert store["top"]["2024-01-01 10:00:00"] == [
                ("click", 3), ("view", 2)
            ]

            mk(b2).coalesce(1).write.mode("append").parquet(str(drop))
            deadline = _t.time() + 60
            while _t.time() < deadline:
                if "2024-01-01 11:00:00" in store.get("top", {}):
                    break
                _t.sleep(0.5)
        finally:
            q.stop()

        # view must have overtaken click in hour 10 (count overwritten
        # to 5, not appended)
        assert store["top"]["2024-01-01 10:00:00"] == [
            ("view", 5), ("click", 3)
        ]
        assert store["top"]["2024-01-01 11:00:00"] == [("buy", 1)]

        # and the store agrees with the pure-batch rank over all events
        all_counts = (
            mk(b1).unionByName(mk(b2))
            .groupBy(
                F.date_format(
                    F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"
                ).alias("window_start"),
                "event_type",
            )
            .agg(F.count("*").alias("n"))
        )
        expect = {
            ws: [(r["event_type"], r["n"]) for r in rows]
            for ws, rows in (
                (ws, sorted(
                    [r for r in rank_counts(all_counts, k=2).collect()
                     if r["window_start"] == ws],
                    key=lambda r: r["rk"],
                ))
                for ws in store["top"]
            )
        }
        assert store["top"] == expect

    def test_leaderboard_store_bounded_over_long_stream(self, spark, tmp_path):
        """Stream 3x the watermark horizon through the leaderboard; the
        mutable counts store must PLATEAU (windows past the watermark are
        evicted, mirroring the stream's own state eviction) while the
        serving output still equals the batch top-k over ALL events —
        frozen windows keep their final ranking.
        """
        import time as _t

        from pyspark.sql import functions as F

        from file_stream_import_spark.streaming.trending import (
            rank_counts,
            trending_stream,
        )

        drop = tmp_path / "drops"
        drop.mkdir()
        ck = str(tmp_path / "ck")

        def mk(rows):
            return spark.createDataFrame(
                [
                    (i, ts, u, et, 1.0, "{}")
                    for i, (ts, u, et) in enumerate(rows)
                ],
                "event_id long, ts string, user_id long, event_type string,"
                " value double, props string",
            ).withColumn("ts", F.col("ts").cast("timestamp"))

        # 1-minute windows, 2-minute watermark → at most
        # (2 min + 1 min) / 1 min + 1 = 4 live windows ever retained.
        # Stream 12 one-minute windows in 4 micro-batches (3 windows each).
        batches = []
        for b in range(4):
            rows = []
            for m in range(3 * b, 3 * b + 3):
                ts = f"2024-01-01 10:{m:02d}:30"
                rows.append((ts, m, "click"))
                if m % 2 == 0:
                    rows.append((ts, 100 + m, "view"))
            batches.append(rows)

        store: dict = {}
        q = trending_stream(
            spark, str(drop), ck, store, k=2,
            size="1 minute", watermark="2 minutes",
        )
        max_live = 0
        max_top = 0
        try:
            for b, rows in enumerate(batches):
                mk(rows).coalesce(1).write.mode("append").parquet(str(drop))
                last_ws = f"2024-01-01 10:{3 * b + 2:02d}:00"
                deadline = _t.time() + 60
                while _t.time() < deadline:
                    if last_ws in store.get("top", {}):
                        break
                    _t.sleep(0.5)
                assert last_ws in store["top"], f"batch {b} never surfaced"
                max_live = max(max_live, len(store["counts"]))
                max_top = max(max_top, len(store["top"]))
        finally:
            q.stop()

        # plateau: EVERY driver-side dict stays at the watermark
        # horizon's live-window count, despite 12 windows streaming
        # through — closed windows were flushed to the serving sink
        assert max_live <= 4, f"counts store grew to {max_live} windows"
        assert max_top <= 4, f"top store grew to {max_top} windows"
        assert len(store["counts"]) <= 4 and len(store["top"]) <= 4
        # serving output = flushed finals + live windows: covers every
        # window exactly once and equals the batch rank
        served = {**store.get("flushed", {}), **store["top"]}
        assert len(served) == 12
        all_counts = (
            mk([r for rows in batches for r in rows])
            .groupBy(
                F.date_format(
                    F.date_trunc("minute", "ts"), "yyyy-MM-dd HH:mm:ss"
                ).alias("window_start"),
                "event_type",
            )
            .agg(F.count("*").alias("n"))
        )
        expect = {
            ws: [(r["event_type"], r["n"]) for r in rows]
            for ws, rows in (
                (ws, sorted(
                    [r for r in rank_counts(all_counts, k=2).collect()
                     if r["window_start"] == ws],
                    key=lambda r: r["rk"],
                ))
                for ws in served
            )
        }
        assert served == expect


class TestStreamStaticEnrich:
    def test_stream_static_join_equals_batch_join(self, spark, sf_dir, tmp_path):
        """Events streamed file-by-file and enriched against the static
        customer dimension must produce exactly the batch join's rows —
        including events with no matching dimension row (left join keeps
        them with nulls)."""
        import time as _t

        from file_stream_import_spark.io.tables import load_table
        from file_stream_import_spark.streaming.windows import (
            enrich_with_dimension,
            read_events_stream,
        )

        events = load_table(spark, sf_dir, "events").limit(300).cache()
        dim = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            "c_name",
            "c_mktsegment",
        )

        drop = tmp_path / "drops"
        drop.mkdir()
        # two drops → two micro-batches (maxFilesPerTrigger=1)
        half = events.filter(F.col("event_id") % 2 == 0)
        rest = events.filter(F.col("event_id") % 2 == 1)
        half.coalesce(1).write.mode("append").parquet(str(drop))
        rest.coalesce(1).write.mode("append").parquet(str(drop))

        enriched = enrich_with_dimension(
            read_events_stream(spark, str(drop)),
            dim,
            on="user_id",
            dim_cols=["c_name", "c_mktsegment"],
        )
        q = (
            enriched.writeStream.format("memory")
            .queryName("enriched_sink")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            deadline = _t.time() + 90
            want_n = events.count()
            while _t.time() < deadline:
                if spark.table("enriched_sink").count() >= want_n:
                    break
                _t.sleep(0.5)
        finally:
            q.stop()

        got = {
            (r["event_id"], r["c_name"], r["c_mktsegment"])
            for r in spark.table("enriched_sink").collect()
        }
        want = {
            (r["event_id"], r["c_name"], r["c_mktsegment"])
            for r in events.join(
                F.broadcast(dim), "user_id", "left"
            ).collect()
        }
        assert got == want
        # left semantics: at least one event survived without a match OR
        # all matched — either way row counts are exactly the stream's
        assert len(got) == want_n


class TestFinalizedSessions:
    def test_sessions_emit_once_on_close_and_timeout_flushes_idle(
        self, spark, tmp_path
    ):
        """Session 1 closes when a post-gap event arrives (emitted with
        the closing batch); session 2 closes by EventTimeTimeout once
        clock events from ANOTHER user advance the watermark — the idle
        user never returns, the session still flushes."""
        from file_stream_import_spark.streaming.stateful import (
            finalized_sessions,
        )

        src = str(tmp_path / "drops")
        b1 = make_events(
            spark,
            [
                (1, "2024-01-01 00:00:00", 7, "click", 1.0, "{}"),
                (2, "2024-01-01 00:10:00", 7, "click", 2.0, "{}"),
                (3, "2024-01-01 00:00:00", 99, "view", 0.0, "{}"),
            ],
        )
        # 02:00 is > 30 min after 00:10 → closes session 1
        b2 = make_events(
            spark,
            [
                (4, "2024-01-01 02:00:00", 7, "click", 4.0, "{}"),
                (5, "2024-01-01 02:00:00", 99, "view", 0.0, "{}"),
            ],
        )
        # two clock batches: the first advances the watermark past
        # 02:00 + gap, the second gives the timer a batch to fire in
        b3 = make_events(
            spark, [(6, "2024-01-01 06:00:00", 99, "view", 0.0, "{}")]
        )
        b4 = make_events(
            spark, [(7, "2024-01-01 06:01:00", 99, "view", 0.0, "{}")]
        )
        write_events(b1, src)
        name = qname()
        stream = read_events_stream(spark, src).select("ts", "user_id", "value")
        q = (
            finalized_sessions(stream, gap="30 minutes", watermark="10 minutes")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            for b in (b2, b3, b4):
                write_events(b, src)
                q.processAllAvailable()
            rows = spark.sql(
                f"SELECT * FROM {name} WHERE user_id = 7"
            ).collect()
            got = sorted(
                (
                    str(r.session_start),
                    str(r.session_end),
                    r.n_events,
                    r.sum_value,
                )
                for r in rows
            )
            assert got == [
                ("2024-01-01 00:00:00", "2024-01-01 00:10:00", 2, 3.0),
                ("2024-01-01 02:00:00", "2024-01-01 02:00:00", 1, 4.0),
            ], got
            # each session appears exactly once (append semantics)
            assert len(rows) == 2
        finally:
            q.stop()

    def test_multi_session_batch_splits_inside_one_trigger(
        self, spark, tmp_path
    ):
        """Three sessions arriving in ONE micro-batch: the two earlier
        ones close immediately (split by the in-batch gap scan), the
        last stays open in state."""
        from file_stream_import_spark.streaming.stateful import (
            finalized_sessions,
        )

        src = str(tmp_path / "drops")
        b1 = make_events(
            spark,
            [
                (1, "2024-01-01 00:00:00", 5, "click", 1.0, "{}"),
                (2, "2024-01-01 01:00:00", 5, "click", 2.0, "{}"),
                (3, "2024-01-01 01:05:00", 5, "click", 3.0, "{}"),
                (4, "2024-01-01 03:00:00", 5, "click", 4.0, "{}"),
            ],
        )
        write_events(b1, src)
        name = qname()
        stream = read_events_stream(spark, src).select("ts", "user_id", "value")
        q = (
            finalized_sessions(stream, gap="30 minutes", watermark="10 minutes")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql(f"SELECT * FROM {name}").collect()
            got = sorted(
                (str(r.session_start), r.n_events, r.sum_value) for r in rows
            )
            assert got == [
                ("2024-01-01 00:00:00", 1, 1.0),
                ("2024-01-01 01:00:00", 2, 5.0),
            ], got
        finally:
            q.stop()

    def test_out_of_order_event_extends_session_backward(
        self, spark, tmp_path
    ):
        """A late-but-above-watermark event must land INSIDE the session
        exactly as batch sessionization would place it (extending the
        start backward) — the buffering contract; an eager fold would
        have frozen start at the first-seen event."""
        from file_stream_import_spark.streaming.stateful import (
            finalized_sessions,
        )

        src = str(tmp_path / "drops")
        b1 = make_events(
            spark,
            [
                (1, "2024-01-01 00:20:00", 7, "click", 2.0, "{}"),
                (2, "2024-01-01 00:21:00", 99, "view", 0.0, "{}"),
            ],
        )
        # 00:13 is BEFORE the buffered 00:20 but above the watermark
        # (00:21 - 10 min = 00:11) → must merge and extend the start
        b2 = make_events(
            spark,
            [
                (3, "2024-01-01 00:13:00", 7, "click", 1.0, "{}"),
                (4, "2024-01-01 00:22:00", 99, "view", 0.0, "{}"),
            ],
        )
        b3 = make_events(
            spark, [(5, "2024-01-01 01:30:00", 99, "view", 0.0, "{}")]
        )
        b4 = make_events(
            spark, [(6, "2024-01-01 01:31:00", 99, "view", 0.0, "{}")]
        )
        write_events(b1, src)
        name = qname()
        stream = read_events_stream(spark, src).select("ts", "user_id", "value")
        q = (
            finalized_sessions(stream, gap="30 minutes", watermark="10 minutes")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            for b in (b2, b3, b4):
                write_events(b, src)
                q.processAllAvailable()
            rows = spark.sql(
                f"SELECT * FROM {name} WHERE user_id = 7"
            ).collect()
            got = [
                (
                    str(r.session_start),
                    str(r.session_end),
                    r.n_events,
                    r.sum_value,
                )
                for r in rows
            ]
            assert got == [
                ("2024-01-01 00:13:00", "2024-01-01 00:20:00", 2, 3.0)
            ], got
        finally:
            q.stop()

    def test_fixture_agreement_with_batch_sessionization(
        self, spark, sf_dir, tmp_path
    ):
        """Stream the real fixture events of three users (chronological
        file drops) + a final clock far past everything: the finalized
        sessions must EQUAL batch gap-sessionization of the same rows —
        the operator's contract on real data, not hand-built cases."""
        from pyspark.sql import Window as W

        from file_stream_import_spark.streaming.stateful import (
            finalized_sessions,
        )

        users = [1, 2, 3]
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("user_id").isin(users))
            .select("ts", "user_id", "value")
            .orderBy("ts")
        )
        rows = ev.collect()
        assert len(rows) > 50
        terciles = [
            rows[: len(rows) // 3],
            rows[len(rows) // 3 : 2 * len(rows) // 3],
            rows[2 * len(rows) // 3 :],
        ]
        src = str(tmp_path / "drops")
        for chunk in terciles:
            spark.createDataFrame(
                [(r.ts, r.user_id, float(r.value)) for r in chunk],
                "ts timestamp, user_id long, value double",
            ).coalesce(1).write.mode("append").parquet(src)
        max_ts = rows[-1].ts
        name = qname()
        stream = (
            spark.readStream.schema("ts timestamp, user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            finalized_sessions(stream, gap="30 minutes", watermark="5 minutes")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            # clock drops (user 999) push the watermark past every
            # session's end + gap, then give the timers a batch to fire
            import datetime

            for mins in (120, 121):
                spark.createDataFrame(
                    [
                        (
                            max_ts + datetime.timedelta(minutes=mins),
                            999,
                            0.0,
                        )
                    ],
                    "ts timestamp, user_id long, value double",
                ).coalesce(1).write.mode("append").parquet(src)
                q.processAllAvailable()
            got = sorted(
                (
                    r.user_id,
                    str(r.session_start),
                    str(r.session_end),
                    r.n_events,
                    round(r.sum_value, 2),
                )
                for r in spark.sql(
                    f"SELECT * FROM {name} WHERE user_id != 999"
                ).collect()
            )
            w = W.partitionBy("user_id").orderBy("ts")
            batch = (
                ev.withColumn("prev", F.lag("ts").over(w))
                .withColumn(
                    "new_s",
                    (
                        F.col("prev").isNull()
                        | (
                            F.unix_timestamp("ts")
                            - F.unix_timestamp("prev")
                            > 1800
                        )
                    ).cast("int"),
                )
                .withColumn(
                    "sid",
                    F.sum("new_s").over(
                        w.rowsBetween(W.unboundedPreceding, 0)
                    ),
                )
                .groupBy("user_id", "sid")
                .agg(
                    F.min("ts").alias("s"),
                    F.max("ts").alias("e"),
                    F.count("*").alias("n"),
                    F.round(F.sum("value"), 2).alias("v"),
                )
            )
            expect = sorted(
                (r.user_id, str(r.s), str(r.e), r.n, round(r.v, 2))
                for r in batch.collect()
            )
            assert got == expect, (got[:3], expect[:3])
        finally:
            q.stop()


class TestPythonStreamSource:
    """The events_gen streaming Python DataSource: micro-batches advance
    the offset without gaps or duplicates, rows are deterministic in
    (seed, index), and readBetweenOffsets replays a committed range
    identically (the failure-recovery contract)."""

    def test_microbatches_contiguous_and_deterministic(
        self, spark, tmp_path
    ):
        import time

        from file_stream_import_spark.io.pysource import (
            EventsStreamDataSource,
            _event_row,
        )

        spark.dataSource.register(EventsStreamDataSource)
        name = qname()
        q = (
            spark.readStream.format("events_gen")
            .option("rowsperbatch", 50)
            .option("seed", 11)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            deadline = time.monotonic() + 60
            while time.monotonic() < deadline:
                n = spark.sql(f"SELECT COUNT(*) c FROM {name}").first().c
                if n >= 100:
                    break
                time.sleep(0.5)
            rows = spark.sql(
                f"SELECT * FROM {name} ORDER BY event_id LIMIT 100"
            ).collect()
            assert len(rows) == 100
            ids = [r.event_id for r in rows]
            assert ids == list(range(100))  # no gaps, no duplicates
            for r in rows[:5]:
                expect = _event_row(r.event_id, 11, 10)
                assert (
                    r.user_id, r.event_type, r.value
                ) == (expect[2], expect[3], expect[4])
        finally:
            q.stop()

    def test_read_between_offsets_replays_identically(self):
        from file_stream_import_spark.io.pysource import EventsStreamReader

        r = EventsStreamReader({"rowsperbatch": "25", "seed": "3"})
        first, nxt = r.read(r.initialOffset())
        live = list(first)
        assert nxt == {"idx": 25}
        replay = list(r.readBetweenOffsets({"idx": 0}, {"idx": 25}))
        assert live == replay


class TestOuterAttributionJoin:
    def test_unmatched_clicks_emit_nulls_after_watermark(
        self, spark, tmp_path
    ):
        """Converted clicks emit as matches arrive; a click with no
        purchase inside the window emits its null-extended row only
        after the watermark proves no purchase can still come."""
        from file_stream_import_spark.streaming.windows import (
            attribution_join_outer,
        )

        src = str(tmp_path / "drops")
        b1 = make_events(
            spark,
            [
                (1, "2024-01-01 00:00:00", 7, "click", 0.0, "{}"),
                (2, "2024-01-01 00:05:00", 8, "click", 0.0, "{}"),
                (3, "2024-01-01 00:30:00", 7, "purchase", 9.5, "{}"),
            ],
        )
        # clocks: push the watermark (2h delay) past click@00:05 + 4h
        # window = 04:05 → user 8's click is provably unconvertible;
        # extra batches let the lazy eviction run. Clocks must be
        # click/purchase-typed: Catalyst pushes each side's event-type
        # filter below the watermark operator, so rows of OTHER types
        # never reach it and a views-only stream stalls the clock (the
        # pushdown-stall hazard documented on attribution_join).
        b2 = make_events(
            spark, [(4, "2024-01-01 06:30:00", 99, "purchase", 1.0, "{}")]
        )
        b3 = make_events(
            spark, [(5, "2024-01-01 06:31:00", 99, "purchase", 1.0, "{}")]
        )
        b4 = make_events(
            spark, [(6, "2024-01-01 06:32:00", 99, "purchase", 1.0, "{}")]
        )
        write_events(b1, src)
        name = qname()
        stream = read_events_stream(spark, src)
        q = (
            attribution_join_outer(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            matched = spark.sql(f"SELECT * FROM {name}").collect()
            # inner match can emit in the arrival batch; the unmatched
            # click must NOT have emitted yet (watermark still at 0)
            assert all(r.converted for r in matched)
            for b in (b2, b3, b4):
                write_events(b, src)
                q.processAllAvailable()
            rows = {
                r.click_id: (r.purchase_id, r.converted, r.purchase_value)
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
            assert rows[1] == (3, True, 9.5)
            assert rows[2] == (None, False, None)
            assert len(rows) == 2
        finally:
            q.stop()

    def test_full_outer_emits_orphan_purchases_after_watermark(
        self, spark, tmp_path
    ):
        """FULL OUTER twin: a purchase with no preceding click (user 9)
        must surface as a purchase_only row — but only after the
        click-side watermark proves no click could still precede it;
        the unconverted click (user 8) emits click_only as in the
        left-outer test."""
        from file_stream_import_spark.streaming.windows import (
            attribution_join_full_outer,
        )

        src = str(tmp_path / "drops")
        b1 = make_events(
            spark,
            [
                (1, "2024-01-01 00:00:00", 7, "click", 0.0, "{}"),
                (2, "2024-01-01 00:05:00", 8, "click", 0.0, "{}"),
                (3, "2024-01-01 00:30:00", 7, "purchase", 9.5, "{}"),
                (4, "2024-01-01 00:40:00", 9, "purchase", 3.25, "{}"),
            ],
        )
        # watermark clocks, click/purchase-typed (the pushdown-stall
        # hazard documented on attribution_join)
        later = [
            make_events(
                spark,
                [(10 + i, f"2024-01-01 06:3{i}:00", 99, "click", 0.0, "{}")],
            )
            for i in range(3)
        ]
        write_events(b1, src)
        name = qname()
        stream = read_events_stream(spark, src)
        q = (
            attribution_join_full_outer(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            first = spark.sql(f"SELECT * FROM {name}").collect()
            # only the inner match can emit before the watermark moves
            assert all(r.status == "matched" for r in first)
            for b in later:
                write_events(b, src)
                q.processAllAvailable()
            rows = spark.sql(f"SELECT * FROM {name}").collect()
            by_status = {}
            for r in rows:
                by_status.setdefault(r.status, []).append(r)
            assert [
                (r.click_id, r.purchase_id, r.user_id, r.purchase_value)
                for r in by_status["matched"]
            ] == [(1, 3, 7, 9.5)]
            assert [
                (r.click_id, r.user_id) for r in by_status["click_only"]
            ] == [(2, 8)]
            # the orphan purchase — the row left outer cannot produce
            assert [
                (r.purchase_id, r.user_id, r.purchase_value)
                for r in by_status["purchase_only"]
            ] == [(4, 9, 3.25)]
        finally:
            q.stop()

    def test_semi_emits_each_converted_click_once(self, spark, tmp_path):
        """LEFT SEMI twin: a click with TWO matching purchases emits
        exactly once (on the first match, no watermark wait); an
        unconverted click never emits; a second purchase arriving in a
        later batch must not re-emit the click."""
        from file_stream_import_spark.streaming.windows import (
            attribution_join_semi,
        )

        src = str(tmp_path / "drops")
        b1 = make_events(
            spark,
            [
                (1, "2024-01-01 00:00:00", 7, "click", 0.0, "{}"),
                (2, "2024-01-01 00:05:00", 8, "click", 0.0, "{}"),
                (3, "2024-01-01 00:30:00", 7, "purchase", 9.5, "{}"),
            ],
        )
        b2 = make_events(
            spark, [(4, "2024-01-01 01:00:00", 7, "purchase", 1.0, "{}")]
        )
        write_events(b1, src)
        name = qname()
        q = (
            attribution_join_semi(read_events_stream(spark, src))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql(f"SELECT * FROM {name}").collect()
            assert [(r.click_id, r.user_id) for r in rows] == [(1, 7)]
            write_events(b2, src)  # second match for the SAME click
            q.processAllAvailable()
            rows = spark.sql(f"SELECT * FROM {name}").collect()
            assert [(r.click_id, r.user_id) for r in rows] == [(1, 7)]
        finally:
            q.stop()

    def test_batch_twin_is_plain_left_outer(self, spark, sf_dir):
        from file_stream_import_spark.streaming.windows import (
            attribution_join,
            attribution_join_outer,
        )

        ev = load_table(spark, sf_dir, "events")
        outer = attribution_join_outer(ev)
        inner = attribution_join(ev)
        n_clicks = ev.filter(F.col("event_type") == "click").count()
        assert outer.filter(F.col("converted")).count() == inner.count()
        assert (
            outer.select("click_id").distinct().count() == n_clicks
        )

    def test_state_survives_query_restart(self, spark, tmp_path):
        """Stop the query mid-session and restart from the same
        checkpoint: the buffered events recover from the state store, so
        the session that closes AFTER the restart still carries the
        pre-restart events — the exactly-once resumption contract."""
        from file_stream_import_spark.streaming.stateful import (
            finalized_sessions,
        )

        src = str(tmp_path / "drops")
        ckpt = str(tmp_path / "ckpt")
        write_events(
            make_events(
                spark,
                [
                    (1, "2024-01-01 00:00:00", 7, "click", 1.0, "{}"),
                    (2, "2024-01-01 00:05:00", 7, "click", 2.0, "{}"),
                ],
            ),
            src,
        )

        out = str(tmp_path / "sessions_out")

        def start():
            stream = read_events_stream(spark, src).select(
                "ts", "user_id", "value"
            )
            return (
                finalized_sessions(
                    stream, gap="30 minutes", watermark="10 minutes"
                )
                .writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .start()
            )

        q1 = start()
        q1.processAllAvailable()
        q1.stop()

        q2 = start()
        try:
            q2.processAllAvailable()
            # one more event in the SAME session, then clocks to close it
            for rows in (
                [(3, "2024-01-01 00:10:00", 7, "click", 4.0, "{}")],
                [(4, "2024-01-01 02:00:00", 99, "click", 0.0, "{}")],
                [(5, "2024-01-01 02:01:00", 99, "click", 0.0, "{}")],
            ):
                write_events(make_events(spark, rows), src)
                q2.processAllAvailable()
        finally:
            q2.stop()
        got = [
            (str(r.session_start), r.n_events, r.sum_value)
            for r in spark.read.parquet(out)
            .filter(F.col("user_id") == 7)
            .collect()
        ]
        assert got == [("2024-01-01 00:00:00", 3, 7.0)], got


class TestWatermarkPushdownPin:
    def test_other_event_types_do_not_advance_watermark(
        self, spark, tmp_path
    ):
        """Pins the measured stall hazard documented on
        attribution_join: the per-side event-type predicates are pushed
        into the file SOURCE (below the watermark operator), so batches
        containing only OTHER event types are read as 0 rows and the
        watermark does not move — while a click/purchase batch advances
        it. If a Spark upgrade changes this, this test fails — then
        update the docstring hazard paragraph accordingly."""
        from file_stream_import_spark.streaming.windows import (
            attribution_join,
        )

        src = str(tmp_path / "events")
        write_events(
            make_events(
                spark,
                [
                    (1, "2024-01-01 10:00:00", 1, "click", 0.0, "{}"),
                    (2, "2024-01-01 11:00:00", 1, "purchase", 5.0, "{}"),
                ],
            ),
            src,
        )
        name = qname()
        q = (
            attribution_join(read_events_stream(spark, src))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()

            def wm():
                return q.lastProgress["eventTime"].get("watermark")

            write_events(
                make_events(
                    spark,
                    [(3, "2024-01-02 00:00:00", 9, "view", 0.0, "{}")],
                ),
                src,
            )
            q.processAllAvailable()
            stalled = wm()
            # the view file is filtered at the scan: watermark still at
            # 11:00 - 2h, NOT 2024-01-01T22:00
            assert stalled == "2024-01-01T09:00:00.000Z", stalled
            write_events(
                make_events(
                    spark,
                    [(4, "2024-01-02 00:00:00", 9, "purchase", 1.0, "{}")],
                ),
                src,
            )
            q.processAllAvailable()
            assert wm() == "2024-01-01T22:00:00.000Z", wm()
        finally:
            q.stop()


class TestFinalizedSessionsStateBound:
    def test_state_rows_plateau_as_sessions_close(self, spark, tmp_path):
        """Stream several times the session horizon for one user: state
        holds only the OPEN session's buffer, so numRowsTotal plateaus
        at ~1 user instead of growing with the number of past
        sessions."""
        from file_stream_import_spark.streaming.stateful import (
            finalized_sessions,
        )

        src = str(tmp_path / "drops")
        name = qname()
        # 6 well-separated sessions, one event each, hours apart
        write_events(
            make_events(
                spark, [(0, "2024-01-01 00:00:00", 7, "click", 1.0, "{}")]
            ),
            src,
        )
        stream = read_events_stream(spark, src).select(
            "ts", "user_id", "value"
        )
        q = (
            finalized_sessions(stream, gap="30 minutes", watermark="10 minutes")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            for h in range(1, 7):
                write_events(
                    make_events(
                        spark,
                        [(h, f"2024-01-01 {h + 2:02d}:00:00", 7, "click", 1.0, "{}")],
                    ),
                    src,
                )
                q.processAllAvailable()
            totals = [
                r["total"]
                for r in state_metrics(q)
                if r["op"] and "applyInPandasWithState" in r["op"]
            ]
            assert totals, "no state metrics captured"
            # bounded by open sessions (1 user), never accumulating
            # one row per CLOSED session
            assert max(totals[-3:]) <= 2, totals
            closed = spark.sql(f"SELECT COUNT(*) c FROM {name}").first().c
            assert closed >= 4  # most sessions emitted exactly once
        finally:
            q.stop()


class TestThresholdAlerts:
    def test_emit_once_across_batches_and_batch_twin_parity(
        self, spark, tmp_path
    ):
        """Crossings emit exactly once even when the running total grows
        over several micro-batches; the union of emissions equals the
        batch twin's (user, level) set, and a level never re-emits."""
        from file_stream_import_spark.streaming.tws import (
            threshold_alerts,
            threshold_alerts_batch,
        )

        src = str(tmp_path / "drops")
        batches = [
            [(7, 300.0), (7, 150.0), (8, 499.0)],  # nobody crosses 500
            [(7, 60.0), (8, 2.0), (9, 1700.0)],  # 7->1, 8->1, 9->1..3
            [(8, 0.5), (9, 1.0)],  # no new level for anyone
            [(7, 990.0)],  # 7 jumps levels 2..3 in one batch
        ]

        def mk(rows):
            return spark.createDataFrame(rows, "user_id long, value double")

        mk(batches[0]).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        name = qname()
        q = (
            threshold_alerts(stream, threshold_cents=50_000)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            assert spark.sql(f"SELECT * FROM {name}").count() == 0
            for b in batches[1:]:
                mk(b).coalesce(1).write.mode("append").parquet(src)
                q.processAllAvailable()
            emitted = [
                (r.user_id, r.level, r.total_cents)
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            ]
        finally:
            q.stop()

        # each (user, level) exactly once
        keys = [(u, lv) for u, lv, _ in emitted]
        assert len(keys) == len(set(keys)), emitted
        twin = threshold_alerts_batch(
            mk([r for b in batches for r in b]), 50_000
        )
        twin_keys = {(r.user_id, r.level) for r in twin.collect()}
        assert set(keys) == twin_keys, (sorted(keys), sorted(twin_keys))
        # totals-at-crossing are the running total of the emitting batch:
        # user 7 crossed level 1 at 51000 cents, levels 2-3 at 150000
        by7 = {lv: t for u, lv, t in emitted if u == 7}
        assert by7 == {1: 51000, 2: 150000, 3: 150000}

    def test_tws_form_fail_fasts_without_protobuf(self, spark):
        """The transformWithStateInPandas twin is environment-gated: on
        a container without google.protobuf it must raise the remedy
        message at call time, not crash the stream at runtime."""
        import importlib.util

        from file_stream_import_spark.streaming.tws import (
            threshold_alerts_tws,
        )

        try:
            # find_spec imports the parent package, so a missing
            # 'google' namespace raises instead of returning None
            have_pb = importlib.util.find_spec("google.protobuf") is not None
        except ModuleNotFoundError:
            have_pb = False
        if have_pb:
            pytest.skip("protobuf present — gate inactive here")
        df = spark.createDataFrame([], "user_id long, value double")
        with pytest.raises(ImportError, match="protobuf"):
            threshold_alerts_tws(df)


class TestThresholdAlertsStateMachine:
    """Unit-level pins on the shared transition function for the two
    review-confirmed hazards: refunds must never un-emit a level, and
    cent rounding must match the Spark twin's half-up convention."""

    def test_refund_never_reemits_a_level(self):
        from file_stream_import_spark.streaming.tws import _advance

        cents, level, out = _advance(0, 0, 60_000, 50_000)
        assert [tuple(r) for r in out.itertuples(index=False)] == [(1, 60_000)]
        # refund drops the total below the threshold — level is monotone
        cents, level, out = _advance(cents, level, -20_000, 50_000)
        assert (cents, level, out) == (40_000, 1, None)
        # re-crossing the same threshold must NOT re-emit level 1
        cents, level, out = _advance(cents, level, 20_000, 50_000)
        assert (cents, level, out) == (60_000, 1, None)
        # but a genuinely new level still fires
        cents, level, out = _advance(cents, level, 50_000, 50_000)
        assert [tuple(r) for r in out.itertuples(index=False)] == [(2, 110_000)]

    def test_half_cent_rounds_half_up_like_spark_twin(self, spark):
        import pandas as pd

        from file_stream_import_spark.streaming.tws import (
            _batch_cents,
            threshold_alerts_batch,
        )

        # 0.125 * 100 = 12.5 exactly in binary; both paths must say 13
        assert _batch_cents(pd.DataFrame({"value": [0.125]})) == 13
        df = spark.createDataFrame(
            [(1, 0.125), (1, 499.87)], "user_id long, value double"
        )
        row = threshold_alerts_batch(df, 50_000).collect()
        assert [(r.user_id, r.level, r.total_cents) for r in row] == [
            (1, 1, 50_000)
        ]


class TestPngDecodeRobustness:
    def test_missing_ihdr_and_truncation_raise_valueerror(self):
        import struct
        import zlib

        from file_stream_import_spark.operators.multimodal import (
            png_decode,
            png_encode,
        )

        def chunk(tag, data):
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", zlib.crc32(tag + data))
            )

        no_ihdr = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IDAT", zlib.compress(b"\x00"))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="IHDR"):
            png_decode(no_ihdr)
        with pytest.raises(ValueError, match="truncated"):
            png_decode(png_encode(b"hello")[:-7])


class TestExactlyOnceJdbcSink:
    """The staged idempotent foreachBatch sink against embedded Derby:
    a real stream lands every row exactly once, replayed batch_ids are
    no-ops, and both crash windows (before promote; after commit but
    before staging cleanup) converge to exactly-once on retry."""

    def _url(self, tmp_path):
        return f"jdbc:derby:{tmp_path}/eo_db;create=true"

    def test_stream_lands_exactly_once_with_replay_and_crashes(
        self, spark, tmp_path
    ):
        from file_stream_import_spark.io.jdbc import read_jdbc
        from file_stream_import_spark.streaming.exactly_once import (
            _connect,
            _table_exists,
            make_idempotent_jdbc_writer,
        )

        url = self._url(tmp_path)
        w = make_idempotent_jdbc_writer(url, "t_target", "q_eo")

        # real stream: two micro-batches through foreachBatch
        src = str(tmp_path / "drops")
        spark.range(10).selectExpr("id", "id * 2 AS v").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(w)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            spark.range(10, 25).selectExpr(
                "id", "id * 2 AS v"
            ).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        finally:
            q.stop()
        assert read_jdbc(spark, url, "t_target").count() == 25

        # replay of an already-committed epoch: no duplicates
        b1 = spark.range(10, 25).selectExpr("id", "id * 2 AS v")
        w(b1, 1)
        assert read_jdbc(spark, url, "t_target").count() == 25

        # crash BEFORE promote: staging exists, no ledger row — retry
        # must land the batch exactly once
        b2 = spark.range(25, 30).selectExpr("id", "id * 2 AS v")
        b2.write.jdbc(url, "t_target_stg_2", mode="overwrite")
        w(b2, 2)
        assert read_jdbc(spark, url, "t_target").count() == 30

        # crash AFTER commit, before staging drop: orphan staging plus
        # committed ledger row — retry skips and cleans the orphan
        b3 = spark.range(30, 33).selectExpr("id", "id * 2 AS v")
        w(b3, 3)
        b3.write.jdbc(url, "t_target_stg_3", mode="overwrite")
        w(b3, 3)
        assert read_jdbc(spark, url, "t_target").count() == 33
        conn = _connect(spark, url)
        try:
            assert not _table_exists(conn, "t_target_stg_3")
        finally:
            conn.close()

        # per-row integrity, not just counts
        got = sorted(
            r["id"] for r in read_jdbc(spark, url, "t_target").collect()
        )
        assert got == list(range(33))


class TestChangefeedAdmissionControl:
    """Catch-up admission control (VERDICT r9 #1): a stream starting at
    startingversion=earliest on a long history must plan BOUNDED
    micro-batches (Delta's maxFilesPerTrigger), not one backlog-sized
    batch — while staying exactly-once."""

    N_VERSIONS = 20
    ROWS_PER_VERSION = 5

    def _table(self, spark, tmp_path, one_file_groups=False):
        from file_stream_import_spark.io.versioned import VersionedTable

        t = VersionedTable(str(tmp_path / "t"))
        for v in range(self.N_VERSIONS):
            df = spark.range(
                v * self.ROWS_PER_VERSION, (v + 1) * self.ROWS_PER_VERSION
            ).selectExpr("id AS k", "id * 2 AS x")
            if one_file_groups:
                df = df.coalesce(1)
            t.commit(df, mode="append" if v else "overwrite")
        return t

    def _drain(self, spark, t, ckpt, **opts):
        """Run the changefeed to exhaustion through foreachBatch;
        returns the list of per-micro-batch row counts (zero-row
        planner ticks excluded)."""
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        reader = spark.readStream.format("table_changefeed").option(
            "path", t.path
        )
        for k, v in opts.items():
            reader = reader.option(k, str(v))
        sizes: list[int] = []
        rows: list[tuple] = []

        def sink(df, _bid):
            got = [(r["k"], r["x"]) for r in df.collect()]
            if got:
                sizes.append(len(got))
                rows.extend(got)

        q = (
            reader.load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sizes, rows

    def test_max_versions_bounds_each_batch(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        sizes, rows = self._drain(
            spark,
            t,
            str(tmp_path / "ckpt"),
            maxversionspertrigger=4,
        )
        total = self.N_VERSIONS * self.ROWS_PER_VERSION
        assert sorted(k for k, _ in rows) == list(range(total))  # once each
        assert len(sizes) >= 5  # 20 versions / 4 per trigger
        assert max(sizes) <= 4 * self.ROWS_PER_VERSION

    def test_max_files_bounds_each_batch(self, spark, tmp_path):
        t = self._table(spark, tmp_path, one_file_groups=True)
        sizes, rows = self._drain(
            spark,
            t,
            str(tmp_path / "ckpt"),
            maxfilespertrigger=3,
        )
        total = self.N_VERSIONS * self.ROWS_PER_VERSION
        assert sorted(k for k, _ in rows) == list(range(total))
        # 20 one-file versions at <=3 files per trigger: >= 7 batches
        assert len(sizes) >= 7
        assert max(sizes) <= 3 * self.ROWS_PER_VERSION

    def test_restart_mid_catchup_exactly_once(self, spark, tmp_path):
        """Stop after the first bounded batch; the restarted stream
        resumes from the checkpoint with no duplicates and no gaps
        (the post-restart floor re-arms off partitions())."""
        from file_stream_import_spark.io.pysource import (
            TableChangefeedDataSource,
        )

        spark.dataSource.register(TableChangefeedDataSource)
        t = self._table(spark, tmp_path)
        ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

        def start():
            return (
                spark.readStream.format("table_changefeed")
                .option("path", t.path)
                .option("maxversionspertrigger", "4")
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .start()
            )

        q = start()
        try:
            # wait for at least one committed batch, then cut
            import time

            for _ in range(600):
                if q.lastProgress and q.lastProgress.get("sink"):
                    break
                time.sleep(0.05)
        finally:
            q.stop()
        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        total = self.N_VERSIONS * self.ROWS_PER_VERSION
        ks = sorted(r["k"] for r in spark.read.parquet(out).collect())
        assert ks == list(range(total))

    def test_unbounded_default_unchanged(self, spark, tmp_path):
        """No option → one catch-up batch, exactly as before."""
        t = self._table(spark, tmp_path)
        sizes, rows = self._drain(spark, t, str(tmp_path / "ckpt"))
        total = self.N_VERSIONS * self.ROWS_PER_VERSION
        assert sorted(k for k, _ in rows) == list(range(total))
        assert len(sizes) == 1

    def test_max_bytes_bounds_each_batch(self, spark, tmp_path):
        t = self._table(spark, tmp_path, one_file_groups=True)
        # per-version group bytes ~ a few hundred; a 1-byte budget
        # degenerates to one version per trigger (always >= 1 admitted)
        sizes, rows = self._drain(
            spark,
            t,
            str(tmp_path / "ckpt"),
            maxbytespertrigger=1,
        )
        total = self.N_VERSIONS * self.ROWS_PER_VERSION
        assert sorted(k for k, _ in rows) == list(range(total))
        assert len(sizes) == self.N_VERSIONS
        assert max(sizes) == self.ROWS_PER_VERSION
