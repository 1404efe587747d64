"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing protocol (de-noising for this host's CPU-steal variance):
  * one discarded warm-up run per query (codegen compile, footer caches,
    Python worker fork), then THREE timed passes, report the min;
  * per-pass times and the max/min spread go to stderr;
  * every full run appends one line to BENCH_HISTORY.jsonl (all passes,
    not just the min) so rounds have a trend line — summarized in
    BASELINE.md.

Order matters in local mode: topk_per_group is the one pandas-backed
headline query, and the Python worker pool it spawns (held alive by
worker.reuse) oversubscribes local-mode CPUs, skewing any JVM query
timed after it — so it runs LAST, after the ingest bench.

The ingest entry is the reference's own flagship lifecycle (O1-O5 at its
1M-row design point, cmd/gen_file/main.go + internal/writer/writer.go):
locations CSV → header-projected scan → last-writer-wins upsert of an
initial 1M-row wave, then a 200k-row update wave; the CSVs are written
once, untimed (that's the Go gen tool's job, and generation is separately
oracle-checked as the gen_locations query).
"""

from __future__ import annotations

import json
import os
import sys
import time

# 4 timed passes (was 3 through r9): this host's CPU-steal phases can
# last several minutes and poison a 3-pass window wholesale — the
# whole-day band on identical code measured 7.2-8.9 s on 2026-08-15
# (BASELINE.md r10 status) while quiet-window minima sit ~6.1 s. One
# more pass per query costs ~45 s total and roughly halves the odds of
# every pass landing in a noisy phase; the adaptive extra-pass rule
# below still triggers on >2x spread.
N_PASSES = 4

HEADLINE = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q3_unshipped_orders",
    "q5_region_revenue",
    "agg_distinct_counts",
    "agg_rollup",
    "join_left_outer",
    "join_range_band",
    "window_running",
    "json_extract",
    "dedup_last_writer_wins",
]
# pandas-backed queries run LAST (see module docstring); the wav decode
# entry (r10) puts a media-codec kernel on the bench tripwire the
# relational and lake paths already have
PANDAS_BACKED = ["multimodal_wav_decode", "topk_per_group"]
# refs/CDC metadata surface (r12 tripwire; r13: fixture UNTIMED): the
# three-commit table is built once, like the ingest CSVs — the timed
# body is ONLY the CDC read (manifest walk + added-group scans + agg),
# so the tripwire tracks the O(delta) path, not table construction.
# A streaming changefeed catch-up entry (r13) guards the micro-batch
# path the sf0.1→sf1 scale curves say dominates stream cost.


def bench_one(
    label: str, run, timings: dict, history: dict, n_passes: int = N_PASSES,
    spread_target: float = 2.0,
) -> None:
    """One discarded warm-up + n_passes timed runs; record the min.

    If the fastest pass is still >spread_target x the slowest-pass
    floor seen across the first n_passes (host CPU-steal phase can
    poison a whole query's window), take up to 2 extra passes — min()
    only helps if at least one pass lands in a quiet window. The
    multi-second STREAMING entries pass a tighter target (1.15x, r14):
    their micro-batch scheduling is the most load-sensitive path on
    this host (documented r13: driver-sweep background load read them
    ~1.3x high), and a couple of extra ~3 s passes is cheap insurance
    that the recorded min comes from a quiet window.
    """
    run()  # warm-up, discarded
    passes = []
    for i in range(n_passes):
        t0 = time.perf_counter()
        run()
        passes.append(round(time.perf_counter() - t0, 3))
        print(f"  [{i}] {label}: {passes[-1]:.3f}s", file=sys.stderr)
    extra = 0
    while extra < 2 and max(passes) / max(min(passes), 1e-9) > spread_target:
        t0 = time.perf_counter()
        run()
        passes.append(round(time.perf_counter() - t0, 3))
        extra += 1
        print(f"  [r{extra}] {label}: {passes[-1]:.3f}s", file=sys.stderr)
    spread = max(passes) / max(min(passes), 1e-9)
    print(f"      {label}: min {min(passes):.3f}s spread {spread:.2f}x", file=sys.stderr)
    timings[label] = min(passes)
    history[label] = passes


# --- host-phase calibration (r15 VERDICT #2) ---------------------------
# BENCH_r14.json was recorded in a severe CPU-steal phase (gate subtotal
# 20.3 s vs 6.2 s quiet, same binary) and needed prose notes to stay
# comparable. The artifact now carries its own weather report: a
# CONSTANT-WORK micro-task (one JVM whole-stage-codegen aggregation +
# one pure-Python loop) timed FIRST and LAST. Readings land in the JSON
# under "calibration"; if the pre-run reading drifts >CAL_DRIFT_MAX over
# the recorded quiet baseline, the harness waits and re-probes up to
# CAL_RETRIES times before starting (don't record a poisoned run), and
# any drift is flagged rather than silently folded into query timings.
CAL_BASELINE_S = 0.311  # quiet-window min on this host, 2026-08-16 (r15)
CAL_DRIFT_MAX = 1.2
CAL_RETRIES = 3
CAL_RETRY_WAIT_S = 60.0


def calibration_probe(spark) -> float:
    """Constant work, no IO: a 30M-row codegen'd JVM aggregation plus a
    2M-iteration Python arithmetic loop. Returns the min of 3 passes —
    tracks host CPU availability, invariant to repo code changes."""
    def once() -> float:
        t0 = time.perf_counter()
        spark.range(30_000_000).selectExpr(
            "sum(id * 2654435761 % 1000003) as s"
        ).first()
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        return time.perf_counter() - t0

    once()  # warm-up (codegen compile)
    return round(min(once() for _ in range(3)), 3)


def calibrate(spark, when: str) -> dict:
    """One calibration reading + drift vs the quiet baseline. Pre-run
    ('first') readings in a noisy phase trigger a wait-and-reprobe loop
    so the recorded artifact starts in a quiet window when one arrives
    within a few minutes; 'last' only reports."""
    reading = calibration_probe(spark)
    retries = 0
    while (
        when == "first"
        and reading / CAL_BASELINE_S > CAL_DRIFT_MAX
        and retries < CAL_RETRIES
    ):
        print(
            f"  calibration[{when}]: {reading:.3f}s = "
            f"{reading / CAL_BASELINE_S:.2f}x baseline — host phase "
            f"noisy, waiting {CAL_RETRY_WAIT_S:.0f}s",
            file=sys.stderr,
        )
        time.sleep(CAL_RETRY_WAIT_S)
        reading = calibration_probe(spark)
        retries += 1
    drift = round(reading / CAL_BASELINE_S, 3)
    print(
        f"  calibration[{when}]: {reading:.3f}s ({drift:.2f}x baseline"
        f"{', NOISY' if drift > CAL_DRIFT_MAX else ''})",
        file=sys.stderr,
    )
    return {"s": reading, "drift": drift, "retries": retries}


def ingest_run(spark, csv1: str, csv2: str):
    """CSV scan → 1M-row initial upsert → 200k-row update wave (O1-O5)."""
    from file_stream_import_spark.io.csv_ingest import ingest_locations_csv
    from file_stream_import_spark.operators.upsert import merge_upsert

    wave1 = ingest_locations_csv(spark, csv1)
    wave2 = ingest_locations_csv(spark, csv2)
    state = merge_upsert(None, wave1)
    return merge_upsert(state, wave2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from file_stream_import_spark.queries import all_queries
    from file_stream_import_spark.session import get_spark

    spark = get_spark(app_name="bench")
    qs = all_queries()
    # parquet footer caches on the tables the headline queries scan
    for t in ("lineitem", "orders", "customer", "region"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()

    timings: dict[str, float] = {}
    history: dict[str, list[float]] = {}
    cal_first = calibrate(spark, "first")

    for name in HEADLINE:
        if name in qs:
            bench_one(
                name,
                lambda name=name: qs[name](spark, sf_dir).count(),
                timings,
                history,
            )

    # --- reference-design-point ingest (1M rows, O1-O5) ---
    import shutil
    import tempfile

    from file_stream_import_spark.io.generator import (
        generate_locations,
        write_locations_csv,
    )

    tmp = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        csv1 = os.path.join(tmp, "wave1")
        csv2 = os.path.join(tmp, "wave2")
        write_locations_csv(generate_locations(spark, 1_000_000, seed=0), csv1)
        write_locations_csv(generate_locations(spark, 200_000, seed=1), csv2)
        bench_one(
            "ingest_1m_upsert",
            lambda: ingest_run(spark, csv1, csv2).count(),
            timings,
            history,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # --- lakehouse hot path: file-pruned MERGE INTO (r9 tripwire) ---
    # The versioned-table MERGE is the engine's incremental-pipeline
    # workhorse (io/versioned.py::merge_into); until r9 a slowdown there
    # was invisible to BENCH_r*.json. Setup (untimed, like the ingest
    # CSVs): an 8-group range-committed orders table. Timed: one
    # 5k-row merge touching ~2 of 8 groups — the touch test + pruned
    # rewrite + stats-recording write, the O(delta) path end to end.
    # Each pass adds one snapshot (that's what a MERGE is); group count
    # grows by 1/pass so pass-to-pass timing stays comparable.
    from pyspark.sql import functions as F

    from file_stream_import_spark.io.versioned import (
        VersionedTable,
        merge_into,
    )

    tmp2 = tempfile.mkdtemp(prefix="bench_lake_")
    try:
        orders = spark.read.parquet(
            os.path.join(sf_dir, "orders.parquet")
        ).select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        kmax = orders.agg(F.max("k")).first()[0]
        step = (int(kmax) + 8) // 8
        t = VersionedTable(os.path.join(tmp2, "t"))
        for i in range(8):
            t.commit(
                orders.filter(
                    F.col("k").between(i * step, (i + 1) * step - 1)
                ),
                mode="append" if i else "overwrite",
            )
        upd = (
            orders.filter(
                F.col("k").between(step, step + 5_000 * 4)
                & (F.col("k") % 4 == 0)
            )
            .withColumn("status", F.lit("MERGED"))
            .localCheckpoint(eager=True)
        )
        bench_one(
            "lake_merge_upsert",
            lambda: merge_into(t, spark, upd, key="k"),
            timings,
            history,
        )
    finally:
        shutil.rmtree(tmp2, ignore_errors=True)

    # --- batch CDC read over a prebuilt three-commit table (untimed
    # setup mirrors the registered lake_table_changes query's fixture;
    # timed: the "what landed since version 1" read + agg) ---
    from file_stream_import_spark.io.versioned import table_changes
    from file_stream_import_spark.operators.curation import dense_sequence

    tmp3 = tempfile.mkdtemp(prefix="bench_cdc_")
    try:
        o = dense_sequence(
            spark.read.parquet(
                os.path.join(sf_dir, "orders.parquet")
            ).select(
                "o_orderkey",
                F.round(F.col("o_totalprice") * 100)
                .cast("bigint")
                .alias("cents"),
            ),
            "o_orderkey",
            out_col="k",
        ).select("k", "cents")
        third = o.count() // 3
        o = o.filter(F.col("k") <= 3 * third).localCheckpoint(eager=True)
        tc = VersionedTable(os.path.join(tmp3, "t"))
        tc.commit(o.filter(F.col("k") <= third), mode="overwrite")
        tc.commit(
            o.filter(F.col("k").between(third + 1, 2 * third)),
            mode="append",
        )
        tc.commit(o.filter(F.col("k") > 2 * third), mode="append")

        def cdc_read():
            return (
                table_changes(tc, spark, 1)
                .groupBy("_commit_version", "_change_type")
                .agg(
                    F.count("*").alias("n_rows"),
                    F.sum("cents").alias("cents"),
                )
                .count()
            )

        bench_one("lake_table_changes", cdc_read, timings, history)
    finally:
        shutil.rmtree(tmp3, ignore_errors=True)

    # --- streaming changefeed catch-up (r13 tripwire) ---
    # Setup (untimed): 8 one-group commits of 1k rows each — the
    # exactly-once-writer shape (one small group per micro-batch).
    # Timed: a fresh-checkpoint readchangedata catch-up draining all
    # 8 versions at 4 versions/trigger -> 2 micro-batches. Data is
    # deliberately small so the entry measures what dominates stream
    # cost at scale per the sf1 curves: per-trigger planning + the
    # Python datasource read path, not bulk rows.
    from file_stream_import_spark.io.pysource import (
        TableChangefeedDataSource,
    )

    spark.dataSource.register(TableChangefeedDataSource)
    tmp4 = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        ts = VersionedTable(os.path.join(tmp4, "t"))
        chunk = spark.range(1_000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        ).localCheckpoint(eager=True)
        for i in range(8):
            ts.commit(
                chunk.withColumn("k", F.col("k") + i * 1_000),
                mode="append" if i else "overwrite",
            )

        def stream_catchup():
            ck = tempfile.mkdtemp(prefix="bench_stream_ck_", dir=tmp4)
            seen = []
            q = (
                spark.readStream.format("table_changefeed")
                .option("path", ts.path)
                .option("readchangedata", "true")
                .option("key", "k")
                .option("maxversionspertrigger", "4")
                .load()
                .writeStream.foreachBatch(
                    lambda df, _b: seen.append(df.count())
                )
                .option("checkpointLocation", ck)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            assert sum(seen) == 8_000, f"catch-up drained {sum(seen)}"
            return sum(seen)

        bench_one(
            "stream_changefeed_catchup", stream_catchup, timings,
            history, spread_target=1.15,
        )
    finally:
        shutil.rmtree(tmp4, ignore_errors=True)

    # --- incremental-MV cycle (r13-continuation tripwire) ---
    # Setup (untimed): a 2-group source table + a bootstrapped
    # (status -> sums) MV. Timed: ONE incremental maintenance cycle —
    # a fixed 2k-key MERGE into the source plus the O(delta) MV
    # refresh (CDF of one version -> signed grouped deltas -> MERGE
    # into the <=5-row MV). Each pass bumps the same keys again, so
    # every pass folds an identical-size delta; the entry guards the
    # whole CDF+fold+merge stack the MV family rides on.
    from file_stream_import_spark.operators.mv import refresh_mv

    tmp5 = tempfile.mkdtemp(prefix="bench_mv_")
    try:
        om = dense_sequence(
            spark.read.parquet(
                os.path.join(sf_dir, "orders.parquet")
            ).select(
                "o_orderkey",
                F.col("o_orderstatus").alias("status"),
                F.round(F.col("o_totalprice") * 100)
                .cast("bigint")
                .alias("cents"),
            ),
            "o_orderkey",
            out_col="k",
        ).select("k", "status", "cents").localCheckpoint(eager=True)
        tm = VersionedTable(os.path.join(tmp5, "t"))
        tm.commit(om, mode="overwrite")
        mvb = VersionedTable(os.path.join(tmp5, "mv"))
        refresh_mv(
            tm, mvb, spark, name="bench_mv",
            group_cols=["status"], sum_cols=["cents"], key="k",
        )
        upd_mv = om.filter(F.col("k") <= 2_000).localCheckpoint(
            eager=True
        )
        wave = {"i": 0}

        def mv_cycle():
            # a fresh +i each pass, so every merge actually changes the
            # rows and the CDF delta stays an identical 2k rows (a
            # repeated identical merge would diff to zero)
            wave["i"] += 1
            merge_into(
                tm, spark,
                upd_mv.withColumn(
                    "cents", F.col("cents") + F.lit(wave["i"])
                ),
                key="k",
            )
            return refresh_mv(
                tm, mvb, spark, name="bench_mv",
                group_cols=["status"], sum_cols=["cents"], key="k",
            )

        bench_one("lake_mv_refresh_cycle", mv_cycle, timings, history, spread_target=1.15)

        # r16: the CASCADE ladder — a finer (status, bucket) MV plus a
        # status rollup maintained from its CDF; the timed body is the
        # full cycle (merge wave -> fine refresh -> rollup refresh), so
        # the rollup's marginal fold cost reads against
        # lake_mv_refresh_cycle above
        from file_stream_import_spark.operators.mv import (
            refresh_rollup_mv,
        )

        tmf = VersionedTable(os.path.join(tmp5, "t2"))
        om2 = om.withColumn(
            "bucket", (F.col("k") % 32).cast("int")
        ).localCheckpoint(eager=True)
        tmf.commit(om2, mode="overwrite")
        fine2 = VersionedTable(os.path.join(tmp5, "fine2"))
        roll2 = VersionedTable(os.path.join(tmp5, "roll2"))
        fkw = dict(
            name="bench_fine2", group_cols=["status", "bucket"],
            sum_cols=["cents"], key="k",
        )
        refresh_mv(tmf, fine2, spark, **fkw)
        refresh_rollup_mv(
            fine2, roll2, spark, name="bench_roll2",
            group_cols=["status"],
        )
        upd2 = om2.filter(F.col("k") <= 2_000).localCheckpoint(
            eager=True
        )
        wave2 = {"i": 0}

        def rollup_ladder():
            wave2["i"] += 1
            merge_into(
                tmf, spark,
                upd2.withColumn(
                    "cents", F.col("cents") + F.lit(wave2["i"])
                ),
                key="k",
            )
            refresh_mv(tmf, fine2, spark, **fkw)
            return refresh_rollup_mv(
                fine2, roll2, spark, name="bench_roll2",
                group_cols=["status"],
            )

        bench_one(
            "lake_mv_rollup_ladder", rollup_ladder, timings, history,
            spread_target=1.15,
        )
    finally:
        shutil.rmtree(tmp5, ignore_errors=True)

    for name in PANDAS_BACKED:
        if name in qs:
            bench_one(
                name,
                lambda name=name: qs[name](spark, sf_dir).count(),
                timings,
                history,
            )

    cal_last = calibrate(spark, "last")
    cal = {
        "baseline_s": CAL_BASELINE_S,
        "first": cal_first,
        "last": cal_last,
        "host_phase": (
            "noisy"
            if max(cal_first["drift"], cal_last["drift"]) > CAL_DRIFT_MAX
            else "quiet"
        ),
    }
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    result = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "calibration": cal,
    }
    try:
        with open(os.path.join(os.path.dirname(__file__) or ".", "BENCH_HISTORY.jsonl"), "a") as f:
            f.write(json.dumps({"ts": time.time(), "sf": sf_val, "passes": history, "calibration": cal}) + "\n")
    except OSError:
        pass  # read-only checkout — history is best-effort
    print(json.dumps(result))


if __name__ == "__main__":
    main()
