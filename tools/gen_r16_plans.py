"""Regenerate the plans/r16 CDF-path evidence files.

Builds the same tiny versioned fixture the r16 evidence used (a
k/status/cents table, one merge wave) and dumps .explain("formatted")
for the three diff-backed paths:

  lake_cdf_snapshot_diff  — public snapshot_diff (eager dup probe)
  lake_mv_refresh_cdf     — the keyed CDF call non-linear MV specs
                            still refresh through (dup_probe='lazy',
                            projected columns)
  lake_join_mv_leg        — a join-MV delta leg (_signed_cdf)
  lake_mv_signed_fold     — the grouped delta a LINEAR MV spec now
                            folds (table_signed_rows → groupBy):
                            'before' is the same delta through the
                            keyed CDF (how a linear spec refreshed
                            before r16)

Usage: python tools/gen_r16_plans.py [suffix]   (default: after)
Writes plans/r16/<name>_<suffix>.txt.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from file_stream_import_spark.session import get_spark  # noqa: E402
from file_stream_import_spark.io.versioned import (  # noqa: E402
    VersionedTable,
    merge_into,
    snapshot_diff,
    table_changes_cdf,
    table_signed_rows,
)
from file_stream_import_spark.operators.mv import (  # noqa: E402
    _sign_col,
    _signed_cdf,
)


def formatted(df) -> str:
    qe = df._jdf.queryExecution()
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(mode)


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "after"
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r16",
    )
    spark = get_spark(app_name="gen_r16_plans")
    tmp = tempfile.mkdtemp(prefix="explake_")
    try:
        rows = [(i, "AB"[i % 2], i * 100) for i in range(200)]
        base = spark.createDataFrame(
            rows, "k long, status string, cents long"
        )
        t = VersionedTable(os.path.join(tmp, "t"))
        t.commit(base, mode="overwrite")
        wave = base.filter(F.col("k") < 40).withColumn(
            "cents", F.col("cents") + 1
        )
        merge_into(t, spark, wave, key="k")
        v = t.latest_version()

        plans = {
            "lake_cdf_snapshot_diff": snapshot_diff(
                t, spark, v - 1, v, key="k"
            ),
            "lake_mv_refresh_cdf": table_changes_cdf(
                t,
                spark,
                v,
                v,
                key="k",
                dup_probe="lazy",
                columns=["status", "cents"],
            ),
            "lake_join_mv_leg": _signed_cdf(
                t, spark, v, v, key="k", columns=["status", "cents"]
            ),
        }
        if suffix == "before":
            # round-start 'before' files are historical evidence —
            # never overwrite them; 'before' mode regenerates ONLY the
            # keyed-CDF shape of the signed-fold grouped delta (what a
            # linear spec's refresh computed before r16)
            plans = {}
            cdf = table_changes_cdf(
                t, spark, v, v, key="k", dup_probe="lazy",
                columns=["status", "cents"],
            )
            sgn = _sign_col()
            plans["lake_mv_signed_fold"] = cdf.groupBy("status").agg(
                F.coalesce(F.sum(sgn * F.col("cents")), F.lit(0))
                .cast("bigint")
                .alias("cents"),
                F.sum(sgn).cast("bigint").alias("n_rows"),
            )
        else:
            srows = table_signed_rows(
                t, spark, v - 1, v, columns=["status", "cents"]
            )
            s = F.col("__sign")
            plans["lake_mv_signed_fold"] = srows.groupBy("status").agg(
                F.coalesce(F.sum(s * F.col("cents")), F.lit(0))
                .cast("bigint")
                .alias("cents"),
                F.sum(s).cast("bigint").alias("n_rows"),
            )
        for name, df in plans.items():
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(formatted(df) + "\n")
            print(f"wrote {path}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
