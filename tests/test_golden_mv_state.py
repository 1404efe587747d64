"""Golden MV state: one seeded source history, every MV kind's state
pinned after each refresh.

Every incremental MV folds signed change rows into grouped deltas and
merges them into its table. This test runs one seeded history over a
source table ``a`` and a dimension table ``b`` — appends, updates that
move rows between groups (and across a filtered view's boundary),
deletes of stored extremes, a decimal and a double sum — and
refreshes at the bootstrap, after one wave of changes and once more
when nothing changed (converged refreshers, a replayed stream batch):

* ``lin``: a linear ``refresh_mv`` (the signed arm);
* ``full``: ``refresh_mv`` with every measure family and a
  ``source_where`` (the keyed arm, with the stored-state recompute and
  the distinct support table);
* ``stream``: ``make_mv_maintainer`` fed ``table_changes_cdf`` frames
  of ``a`` directly, one batch per refresh, with every measure family a
  rollup can coarsen;
* ``roll_lin`` / ``roll_full``: ``refresh_rollup_mv`` over ``lin``
  and ``stream`` (the linear and the full rollup);
* ``join``: ``refresh_join_mv`` of ``a`` and ``b``.

Each MV's rows, recorded ``_mv_spec.json`` and manifest ``txn`` map
are compared to ``golden_mv_state.json``. Rows are normalized: HLL
sketches as their ``hll_sketch_estimate``, doubles rounded to 6
significant digits, decimals as strings, histograms as sorted
``[bucket, count]`` lists, and rows sorted.

Regenerate the golden file only when an MV state change is intended:
``python -m tests.test_golden_mv_state``.
"""

from __future__ import annotations

import json
import pathlib
from decimal import Decimal

from pyspark.sql import functions as F

from file_stream_import_spark.io.versioned import (
    VersionedTable,
    apply_changes,
    merge_into,
    table_changes_cdf,
)
from file_stream_import_spark.operators.mv import (
    load_mv_spec,
    make_mv_maintainer,
    refresh_join_mv,
    refresh_mv,
    refresh_rollup_mv,
)

GOLDEN = pathlib.Path(__file__).with_name("golden_mv_state.json")
_A = "k long, g string, h string, d long, amt decimal(12,2), x double, q long"
_B = "d long, region string, w long"


def _a_rows(spec):
    return [
        (k, g, h, d, Decimal(amt), float(x), q)
        for k, g, h, d, amt, x, q in spec
    ]


def _refresh_all(spark, a, b, mvs, stream, lo, hi, batch_id):
    refresh_mv(
        a, mvs["lin"], spark, name="lin", group_cols=["g", "h"],
        sum_cols=["amt", "q"], key="k", percentile_cols=["x"],
    )
    refresh_mv(
        a, mvs["full"], spark, name="full", group_cols=["g"],
        sum_cols=["amt", "x"], key="k", min_cols=["q", "x"],
        max_cols=["q"], sumsq_cols=["q"], distinct_cols=["d"],
        approx_distinct_cols=["k"], percentile_cols=["x"],
        source_where="x < 50",
    )
    stream(table_changes_cdf(a, spark, lo, hi, key="k"), batch_id)
    refresh_rollup_mv(
        mvs["lin"], mvs["roll_lin"], spark, name="roll_lin",
        group_cols=["g"],
    )
    refresh_rollup_mv(
        mvs["stream"], mvs["roll_full"], spark, name="roll_full",
        group_cols=["g"],
    )
    refresh_join_mv(
        a, b, mvs["join"], spark, name="join", on=["d"],
        group_cols=["region"], sum_cols=["amt", "w"], key_a="k",
        key_b="d", percentile_cols=["q"],
    )


def _run_history(spark, root: str) -> dict:
    a = VersionedTable(f"{root}/a")
    b = VersionedTable(f"{root}/b")
    names = ["lin", "full", "stream", "roll_lin", "roll_full", "join"]
    mvs = {n: VersionedTable(f"{root}/mv_{n}") for n in names}
    stream = make_mv_maintainer(
        mvs["stream"], "stream", group_cols=["g", "h"],
        sum_cols=["amt", "x"], source=a, min_cols=["q"], max_cols=["q"],
        sumsq_cols=["x"], approx_distinct_cols=["k"],
        percentile_cols=["x"],
    )

    def adf(spec):
        return spark.createDataFrame(_a_rows(spec), _A)

    a.commit(adf([
        (1, "a", "p", 1, "10.50", 12.25, 5),
        (2, "a", "p", 2, "3.25", 61.5, -2),
        (3, "a", "q", 1, "7.00", 0.125, 9),
        (4, "b", "p", 3, "1.10", 44.0, 0),
        (5, "b", "q", 2, "2.20", 55.5, 14),
        (6, "b", "q", 3, "8.80", 3.75, 7),
        (7, "c", "p", 1, "0.01", 101.0, 3),
        (8, "c", "q", 2, "4.44", 8.5, -6),
        (9, "c", "q", 3, "5.55", 49.0, 11),
        (13, "e", "p", 2, "2.00", 5.0, 2),
    ]))
    b.commit(spark.createDataFrame(
        [(1, "north", 10), (2, "south", 20), (3, "north", 30)], _B
    ))
    states = []

    def snap(lo, hi, batch_id):
        _refresh_all(spark, a, b, mvs, stream, lo, hi, batch_id)
        states.append({n: _mv_state(spark, mvs[n]) for n in names})

    snap(0, 0, 0)  # bootstraps; the stream folds v0's inserts

    # v1: inserts, and updates that move rows between groups and
    # across the filtered view's x < 50 boundary
    merge_into(a, spark, adf([
        (10, "d", "p", 1, "6.60", 22.0, 1),
        (11, "a", "q", 2, "9.99", 70.0, 20),
        (1, "b", "p", 1, "10.50", 12.25, 5),   # a/p -> b/p
        (5, "c", "q", 2, "2.75", 45.5, 14),    # b/q -> c/q, crosses 50
        (7, "c", "p", 3, "0.02", 30.0, 3),     # crosses 50, new dim
    ]), key="k")

    # v2: delete the stored extremes (q min of a, q max of c, x min of
    # a), empty groups b/q and e (they sweep), insert, and move the
    # row v1 inserted into group d away (a zero-count delta group)
    def op(k, g=None, h=None, d=None, amt=None, x=None, q=None, o="D"):
        return (k, g, h, d, None if amt is None else Decimal(amt), x, q, o)

    apply_changes(
        a, spark,
        spark.createDataFrame(
            [
                op(2), op(3), op(9), op(6), op(13),
                op(12, "a", "p", 4, "1.23", 2.5, -9, "I"),
                op(10, "b", "q", 4, "6.60", 22.0, 1, "U"),
            ],
            _A + ", op string",
        ),
        key="k",
    )
    # the dimension side: a row moves between regions, one is added,
    # one is deleted and one moves in a second commit
    merge_into(b, spark, spark.createDataFrame(
        [(2, "north", 25), (4, "east", 40)], _B
    ), key="d")
    apply_changes(
        b, spark,
        spark.createDataFrame(
            [(1, None, None, "D"), (3, "west", 30, "U")],
            _B + ", op string",
        ),
        key="d",
    )
    snap(1, 2, 1)
    # a replay: every refresher is converged and the stream skips the
    # batch it already folded
    snap(1, 2, 1)
    return {"waves": states}


def _cell(v):
    if isinstance(v, float):
        return float(f"{v:.6g}")
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, dict):
        return sorted([int(k), int(c)] for k, c in v.items())
    return v


def _mv_state(spark, mv: VersionedTable) -> dict:
    df = mv.read(spark)
    cols = [
        F.hll_sketch_estimate(c).alias(c) if c.endswith("_hll") else F.col(c)
        for c in sorted(df.columns)
    ]
    rows = sorted(
        ([_cell(v) for v in r] for r in df.select(*cols).collect()),
        key=json.dumps,
    )
    spec = load_mv_spec(mv)
    txn = mv._load_manifest(mv.latest_version()).get("txn") or {}
    return {
        "columns": sorted(df.columns),
        "rows": rows,
        "spec": spec,
        "txn": txn,
    }


def test_mv_state_matches_golden(spark, tmp_path):
    got = _run_history(spark, str(tmp_path))
    want = json.loads(GOLDEN.read_text())
    assert len(got["waves"]) == len(want["waves"])
    for i, (g, w) in enumerate(zip(got["waves"], want["waves"])):
        for name in w:
            assert g[name] == w[name], f"wave {i}: MV {name} differs"


if __name__ == "__main__":
    import os
    import tempfile

    from file_stream_import_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # as tests/conftest.py

    session = get_spark(app_name="golden", shuffle_partitions=8)
    with tempfile.TemporaryDirectory() as d:
        golden = _run_history(session, d)
    GOLDEN.write_text(json.dumps(golden, indent=1, sort_keys=True) + "\n")
    print(f"wrote {GOLDEN} ({len(golden['waves'])} waves)")
