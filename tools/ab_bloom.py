"""A/B: MERGE on a hash-keyed table with vs without per-group Bloom
filters (r7 feature) — the point-lookup analog of
b195d10:tools/ab_merge_pruned.py.

The table's key is md5(id): every group's [min, max] stats box spans
the whole hex space, so WITHOUT blooms the touch test must rewrite
every group on any merge; WITH blooms only the groups actually holding
the update keys rewrite. Build N_GROUPS groups of ROWS_PER_GROUP
hash-keyed rows, merge N_UPDATES point updates drawn from ONE group,
and report wall time, groups rewritten, and bytes written.

`--sweep-bits` additionally sweeps the r8 bits-per-key knob
(set_bloom_columns(bits_per_key=...)): lower bits -> smaller sidecars
but more false positives (unnecessary group rewrites); the standard
estimate with k=6 hashes is fpp ~ (1 - e^(-6/bits_per_key))^6.

`--dup` measures the r9 NDV sizing (filters sized by
approx_count_distinct, not row count — Iceberg's rule): same 60k-row
group at 60000/10000/1000/100 distinct keys. Measured (2026-08-14):
sidecar shrinks 128 KiB -> 16 -> 2 -> 1 while fpp stays 0.00-0.21%
against 20k absent-key probes and present keys hit 100% (false
negatives impossible by construction).

`--many-groups` times the touch test through the two regimes of the
bloom membership kernel (_bloom_maybe) at 128 bloom'd groups: driver
numpy vs executor mapInPandas. Measured (2026-08-14, local page-cached
8 KiB sidecars): driver 1.73s vs executor 5.22s,
identical 10/128 touched — which is WHY the regime split keys on total
sidecar BYTES (_BLOOM_DRIVER_MAX_BYTES, 64 MiB) and not group count
alone: the executor regime pays Spark jobs of overhead and only wins
when driver I/O would serialize real volume (object storage, MiB-scale
sidecars).

Run: python tools/ab_bloom.py [--sweep-bits | --dup | --many-groups]
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

N_GROUPS = 16
ROWS_PER_GROUP = 60_000
N_UPDATES = 100
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def group_bytes(path: str, groups: list[str]) -> int:
    total = 0
    for g in groups:
        d = os.path.join(path, g)
        for name in os.listdir(d):
            total += os.path.getsize(os.path.join(d, name))
    return total


def run(spark: SparkSession, with_bloom: bool, bits_per_key: int = 10) -> dict:
    from file_stream_import_spark.io.versioned import VersionedTable, merge_into

    t = VersionedTable(tempfile.mkdtemp(prefix="ab_bloom_"))
    try:
        for i in range(N_GROUPS):
            df = (
                spark.range(i * ROWS_PER_GROUP, (i + 1) * ROWS_PER_GROUP)
                .select(
                    F.md5(F.col("id").cast("string")).alias("k"),
                    F.col("id").alias("payload"),
                )
            )
            t.commit(df, mode="append")
        if with_bloom:
            t0 = time.time()
            t.set_bloom_columns(spark, ["k"], bits_per_key=bits_per_key)
            build_s = time.time() - t0
        else:
            build_s = 0.0
        pre = set(t._load_manifest(t.latest_version())["groups"])
        upd = (
            spark.range(0, N_UPDATES * 13, 13)  # keys inside group 0
            .select(
                F.md5(F.col("id").cast("string")).alias("k"),
                (F.col("id") + 1_000_000).alias("payload"),
            )
        )
        t0 = time.time()
        merge_into(t, spark, upd, key="k")
        merge_s = time.time() - t0
        m = t._load_manifest(t.latest_version())
        rewritten = pre - set(m["groups"])
        added = [g for g in m["groups"] if g not in pre]
        sidecar = 0
        for g in m["groups"]:
            d = os.path.join(t.path, g)
            sidecar += sum(
                os.path.getsize(os.path.join(d, n))
                for n in os.listdir(d)
                if n.startswith("_bloom_")
            )
        return {
            "bloom": with_bloom,
            "bits_per_key": bits_per_key,
            "sidecar_bytes": sidecar,
            "bloom_build_s": round(build_s, 2),
            "merge_s": round(merge_s, 2),
            "groups_rewritten": len(rewritten),
            "bytes_written": group_bytes(t.path, added),
            "rows": t.read(spark).count(),
        }
    finally:
        shutil.rmtree(t.path, ignore_errors=True)


def run_dup(spark: SparkSession, n_distinct: int) -> dict:
    """NDV-sizing A/B (r9): same ROW count per group, varying DISTINCT
    key count. Sizing by NDV (approx_count_distinct in the stats job)
    should shrink the sidecar on duplicated keys while keeping point
    probes exact — fpp depends only on distinct insertions."""
    from file_stream_import_spark.io.versioned import VersionedTable

    t = VersionedTable(tempfile.mkdtemp(prefix="ab_bloom_dup_"))
    try:
        df = spark.range(ROWS_PER_GROUP).select(
            F.md5((F.col("id") % n_distinct).cast("string")).alias("k"),
            F.col("id").alias("payload"),
        )
        t.commit(df, mode="overwrite")
        t0 = time.time()
        t.set_bloom_columns(spark, ["k"])
        build_s = time.time() - t0
        m = t._load_manifest(t.latest_version())
        (g,) = m["groups"]
        meta = m["stats"][g]["_bloom"]["k"]
        # measured fpp: hash 20k absent keys in ONE job (the same
        # xxhash64 form the filters were built with), bit-test the
        # sidecar with the lake's own bloom kernel
        from file_stream_import_spark.io.versioned import (
            _bloom_hashes,
            _bloom_test,
            _bloom_words,
            _hash_matrix,
        )

        def maybe_count(keys_df) -> int:
            rows = keys_df.select(_bloom_hashes([F.col("k")])).collect()
            H = _hash_matrix([r[0] for r in rows], 1)[:, 0]
            arr = _bloom_words(t.path, meta)
            return int(_bloom_test(arr, H, int(meta["m"])).sum())

        n_probe = 20_000
        ghosts = spark.range(n_probe).select(
            F.md5(F.concat(F.lit("ghost-"), F.col("id"))).alias("k")
        )
        fp = maybe_count(ghosts)
        # present keys must ALWAYS hit (no false negatives)
        present = spark.range(n_distinct).select(
            F.md5(F.col("id").cast("string")).alias("k")
        )
        hits = maybe_count(present)
        return {
            "n_distinct": n_distinct,
            "m_bits": int(meta["m"]),
            "sidecar_bytes": int(meta["m"]) // 8,
            "fpp": fp / n_probe,
            "present_hits": f"{hits}/{n_distinct}",
            "build_s": round(build_s, 2),
        }
    finally:
        shutil.rmtree(t.path, ignore_errors=True)


def run_many_groups(spark: SparkSession, n_groups: int) -> None:
    """A/B: the MERGE touch test's bloom probe at MANY groups — the
    bloom kernel's (_bloom_maybe) driver numpy regime vs its executor
    mapInPandas regime. On local disk with a warm page cache the
    driver regime is hard to beat in absolute terms; the point of the
    executor regime is that its cost stays FLAT per-executor while the
    driver regime serializes O(groups × sidecar_bytes) through one
    process — this A/B pins the local crossover and shows the executor
    regime's constant overhead is small (a few Spark jobs)."""
    import file_stream_import_spark.io.versioned as V
    from file_stream_import_spark.io.versioned import (
        VersionedTable,
        _split_touched_groups,
    )

    t = VersionedTable(tempfile.mkdtemp(prefix="ab_bloom_many_"))
    try:
        rows_per = 4000
        df0 = spark.range(rows_per).select(
            F.md5(F.col("id").cast("string")).alias("k"),
            F.col("id").alias("payload"),
        )
        t.commit(df0, mode="overwrite")
        t.set_bloom_columns(spark, ["k"])
        for i in range(1, n_groups):
            t.commit(
                spark.range(i * rows_per, (i + 1) * rows_per).select(
                    F.md5(F.col("id").cast("string")).alias("k"),
                    F.col("id").alias("payload"),
                ),
                mode="append",
            )
        m = t._load_manifest(t.latest_version())
        types = {
            "k": t.read(spark).schema["k"].dataType,
            "payload": t.read(spark).schema["payload"].dataType,
        }
        upd = (
            spark.range(0, 100 * 13, 13)
            .select(
                F.md5(F.col("id").cast("string")).alias("k"),
                (F.col("id") + 1_000_000).alias("payload"),
            )
            .localCheckpoint(eager=True)
        )
        results = []
        saved = (V._BLOOM_DRIVER_MAX_GROUPS, V._BLOOM_DRIVER_MAX_BYTES)
        for tag, knob in (("driver regime", 10**9), ("executor regime", 0)):
            V._BLOOM_DRIVER_MAX_GROUPS = knob
            V._BLOOM_DRIVER_MAX_BYTES = knob
            try:
                # warm-up + best of 3
                _split_touched_groups(m, upd, ["k"], types, table_path=t.path)
                best, touched = None, None
                for _ in range(3):
                    t0 = time.time()
                    touched, _u, _x = _split_touched_groups(
                        m, upd, ["k"], types, table_path=t.path
                    )
                    best = min(best or 9e9, time.time() - t0)
                results.append((tag, best, len(touched)))
            finally:
                V._BLOOM_DRIVER_MAX_GROUPS, V._BLOOM_DRIVER_MAX_BYTES = saved
        print(f"{n_groups} bloom'd groups x {rows_per} rows, 100-key touch test:")
        print("| path | wall (best of 3) | groups touched |")
        print("|---|---|---|")
        for tag, w, nt in results:
            print(f"| {tag} | {w:.2f}s | {nt}/{n_groups} |")
    finally:
        shutil.rmtree(t.path, ignore_errors=True)


def main() -> None:
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("ab_bloom")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if "--many-groups" in sys.argv:
        run_many_groups(spark, n_groups=128)
        return
    if "--dup" in sys.argv:
        print(f"{ROWS_PER_GROUP} rows/group, varying distinct keys (10 bits/key):")
        print("| distinct keys | m (bits) | sidecar | measured fpp | present hits |")
        print("|---|---|---|---|---|")
        for nd in (ROWS_PER_GROUP, 10_000, 1_000, 100):
            r = run_dup(spark, nd)
            print(
                f"| {r['n_distinct']} | {r['m_bits']} |"
                f" {r['sidecar_bytes'] / 1024:.0f} KiB | {r['fpp']:.2%} |"
                f" {r['present_hits']} |"
            )
        return
    if "--sweep-bits" in sys.argv:
        print("| bits/key | est. fpp | bloom build | merge wall | groups rewritten | sidecar bytes |")
        print("|---|---|---|---|---|---|")
        import math
        for bits in (5, 10, 16, 20):
            r = run(spark, with_bloom=True, bits_per_key=bits)
            est = (1 - math.exp(-6 / bits)) ** 6
            print(
                f"| {bits} | {est:.2%} | {r['bloom_build_s']}s |"
                f" {r['merge_s']}s | {r['groups_rewritten']}/{N_GROUPS} |"
                f" {r['sidecar_bytes'] / 1e6:.2f} MB |"
            )
        return
    a = run(spark, with_bloom=False)
    b = run(spark, with_bloom=True)
    print("| variant | bloom build | merge wall | groups rewritten | bytes written |")
    print("|---|---|---|---|---|")
    for r in (a, b):
        tag = "bloom" if r["bloom"] else "no bloom (box only)"
        print(
            f"| {tag} | {r['bloom_build_s']}s | {r['merge_s']}s |"
            f" {r['groups_rewritten']}/{N_GROUPS} |"
            f" {r['bytes_written'] / 1e6:.1f} MB |"
        )
    assert a["rows"] == b["rows"]
    print(
        f"speedup: {a['merge_s'] / b['merge_s']:.1f}x wall, "
        f"{a['bytes_written'] / max(1, b['bytes_written']):.1f}x bytes"
    )


if __name__ == "__main__":
    main()
