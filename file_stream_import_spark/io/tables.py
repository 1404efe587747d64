"""Parquet table sources for the driver-provided TPC-H-ish fixtures.

At 100 TB these reads are the dominant cost; everything here is designed so
Catalyst can prune and push down:
  * plain ``spark.read.parquet`` — vectorized reader, min/max row-group
    skipping, predicate pushdown and column pruning all apply.
  * no ``.cache()`` by default — at 100 TB caching the scan is a net loss;
    callers opt in for small dims only.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor the
# TPC-H generator produces (region/nation are constant-size; supplier
# scales but stays tiny relative to lineitem).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # events.ts is parquet TIMESTAMP(NANOS); with
        # spark.sql.legacy.parquet.nanosAsLong it arrives as nanos-since-
        # epoch. Truncate to micros — identical to DuckDB's µs timestamps.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Depending on spark.sql.parquet.inferTimestampNTZ / timestampType,
    # parquet timestamps with isAdjustedToUTC=false surface as
    # TIMESTAMP_NTZ, on which TIMESTAMP-only functions (unix_micros,
    # to_utc_timestamp, …) raise DATATYPE_MISMATCH. Normalize every NTZ
    # column to TIMESTAMP_LTZ (spelled explicitly — under
    # spark.sql.timestampType=TIMESTAMP_NTZ a plain "timestamp" cast
    # resolves back to NTZ): under a UTC session (the harness default)
    # the cast is an identity on the underlying microseconds, and
    # downstream arithmetic uses differences, so semantics are unchanged.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        from pyspark.sql import functions as F

        df = df.withColumns(
            {c: F.col(c).cast("timestamp_ltz") for c in ntz_cols}
        )
    return df


def _parse_bytes(raw: str | int) -> int:
    """Bytes in a Spark byte string (``"64m"``, ``"134217728b"``,
    ``" 5G "``), read with the grammar of Spark's
    ``JavaUtils.byteStringAsBytes``: ASCII digits, then an optional
    case-insensitive binary suffix b/k/kb/m/mb/g/gb/t/tb/p/pb (none
    means bytes); fractions, signs and exponents are rejected, as is a
    result past Long.MAX_VALUE. Pure Python, so the streaming-source
    worker, which has no JVM gateway, parses as the session does.
    Raises ValueError."""
    # Java's String.trim() drops every char <= U+0020
    s = str(raw).lower().strip("".join(map(chr, range(33))))
    m = re.fullmatch(r"([0-9]+)([a-z]*)", s)
    shift = {
        "": 0, "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20,
        "g": 30, "gb": 30, "t": 40, "tb": 40, "p": 50, "pb": 50,
    }.get(m.group(2)) if m else None
    if shift is None:
        raise ValueError(
            f"not a byte string: {raw!r} (bytes as digits with an "
            "optional b/k/m/g/t/p suffix, e.g. 50b, 100k or 250m; no "
            "fractions)"
        )
    n = int(m.group(1)) << shift
    if n >= 1 << 63:
        raise ValueError(f"byte string exceeds Long.MAX_VALUE: {raw!r}")
    return n


def spread_small_scan(
    df: DataFrame, sf_dir: str, name: str
) -> DataFrame:
    """Repartition a COMPUTE-HEAVY aggregate's input when the source
    file is too small for the scan to fill the session's parallelism
    (guide §2.5: fix input parallelism at the read site, never inside
    an operator).

    For queries whose per-row work dwarfs the scan (multi-sketch +
    exact-arm audits: countDistinct's Expand, exact percentiles, HLL),
    a sub-split-size file plans ONE scan task and the whole aggregate
    runs on one core. The gate derives from INPUT SIZE, not core
    count: if the file already yields >= half the session's
    parallelism in maxPartitionBytes-sized splits, the scan
    parallelizes naturally and the DataFrame returns unchanged — at
    fact-table scale this never fires, so the bounded small-file
    shuffle (round-robin, a few MB) exists exactly where one core
    would otherwise do all the work. Only merge-order-free aggregates
    may sit downstream (exact count/sum/min/max/distinct, HLL register
    max; approx-percentile sketches only behind a slack bound), which
    is each caller's documented obligation."""
    try:
        size = os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))
    except OSError:
        return df
    spark = df.sparkSession
    try:
        mpb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
    except Exception:  # pragma: no cover
        mpb = 128 << 20
    splits = max(1, -(-size // mpb))
    par = spark.sparkContext.defaultParallelism
    if 2 * splits >= par:
        return df
    return df.repartition(par)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (mirrors the DuckDB
    oracle's pre-registered views, so SQL-form queries read identically)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# Tables whose size is CONSTANT in the scale factor (TPC-H: region=5,
# nation=25 rows forever). Everything else grows with SF — customer /
# supplier / part are gigabytes at SF100 and TERABYTES at the 100 TB
# design point, where a forced broadcast is an executor OOM.
ALWAYS_BROADCAST = frozenset({"region", "nation"})


def dim(df: DataFrame, name: str | None = None) -> DataFrame:
    """Dimension-side join input.

    Applies an explicit broadcast HINT only for constant-size tables;
    for scaling dimensions it returns the frame unhinted so Catalyst's
    statistics (file size < autoBroadcastJoinThreshold) and AQE's runtime
    re-plan pick broadcast when the actual post-filter size allows — and
    fall back to shuffle join when it doesn't. A hard F.broadcast() on a
    scaling table is wrong at 100 TB even though it "works" at test SF.
    """
    from pyspark.sql import functions as F

    if name in ALWAYS_BROADCAST:
        return F.broadcast(df)
    return df
