"""Relational operator surface — scans, filters, projections, aggregations,
joins (equi/semi/anti/non-equi), windows, set ops, rollup, JSON, pagination.

The reference delegates all of this to PostgreSQL (it only ships SQL strings,
internal/db/db.go:63-74,112-124); here each operator is expressed
declaratively on the DataFrame API so Catalyst supplies pushdown, pruning,
join selection and AQE. Scale notes per query are in the docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..io.tables import dim, load_table
from . import register

# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      ROUND(SUM(l_quantity), 2)                                       AS sum_qty,
      ROUND(SUM(l_extendedprice), 2)                                  AS sum_base_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
      ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      ROUND(AVG(l_quantity), 4)                                       AS avg_qty,
      ROUND(AVG(l_extendedprice), 4)                                  AS avg_price,
      ROUND(AVG(l_discount), 4)                                       AS avg_disc,
      COUNT(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 flagship: scan → filter → groupBy(2) → 8 aggregates.

    Scale: the filter and the two grouping columns push down to the parquet
    scan (PushedFilters + 7-column ReadSchema); partial aggregation is
    map-side, so the shuffle carries ≤ |groups| × partitions rows — at
    100 TB this stays a 6-row result with a trivially small exchange.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter-and-sum — the pushdown showcase.

    All four predicates reach the parquet reader (row-group min/max
    skipping); only 4 columns are read. No shuffle at all beyond the
    single-row final aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "agg_distinct_counts",
    oracle="""
    SELECT
      l_returnflag,
      CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
      CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
      COUNT(*)                                  AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation. Catalyst expands this to an Expand +
    two-phase aggregate; at scale the distinct keys shuffle once each."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      ROUND(SUM(l_quantity), 2) AS sum_qty,
      COUNT(*)                  AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — subtotals and a grand total in one pass
    (Expand operator; one shuffle regardless of the number of sets)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT
      o_orderstatus,
      o_orderpriority,
      ROUND(SUM(o_totalprice), 2) AS sum_price,
      COUNT(*)                    AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over orders — all 4 grouping sets in one Expand+shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count("*").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Projection + scalar functions
# ---------------------------------------------------------------------------


@register(
    "scalar_functions",
    oracle="""
    SELECT
      p_partkey,
      UPPER(p_name)                                   AS name_upper,
      SUBSTRING(p_brand, 7, 2)                        AS brand_num,
      CAST(LENGTH(p_name) AS BIGINT)                  AS name_len,
      ROUND(p_retailprice * 1.1, 2)                   AS price_with_tax,
      CONCAT(p_brand, ':', p_type)                    AS brand_type,
      CAST(ABS(p_size - 25) AS BIGINT)                AS size_dist,
      ROUND(LN(p_retailprice), 4)                     AS log_price
    FROM part
    WHERE p_size >= 10
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math scalar function coverage — all JVM-side built-ins, kept
    inside one WholeStageCodegen projection over the scan."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(F.col("p_size") >= 10).select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_brand", 7, 2).alias("brand_num"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("price_with_tax"),
        F.concat("p_brand", F.lit(":"), "p_type").alias("brand_type"),
        F.abs(F.col("p_size") - 25).cast("bigint").alias("size_dist"),
        F.round(F.log(F.col("p_retailprice")), 4).alias("log_price"),
    )


@register(
    "date_functions",
    oracle="""
    SELECT
      CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT)  AS order_year,
      CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS order_month,
      COUNT(*)                                        AS n_orders,
      ROUND(SUM(o_totalprice), 2)                     AS sum_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date extraction + aggregate — year/month reach the scan as a
    projection; grouping keys are low-cardinality so the shuffle is tiny."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            F.month("o_orderdate").cast("bigint").alias("order_month"),
            "o_totalprice",
        )
        .groupBy("order_year", "order_month")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q3_unshipped_orders",
    oracle="""
    SELECT
      l_orderkey,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      STRFTIME(o_orderdate, '%Y-%m-%d')                 AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-06-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-10.

    Scale: customer is a dimension → broadcast (no shuffle of lineitem for
    that join); lineitem⋈orders is the one big shuffle, on the join key,
    and AQE picks the strategy at runtime. The final ORDER BY ... LIMIT is
    a TakeOrderedAndProject — no global sort materialization.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1997-06-01").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(o.filter(F.col("o_orderdate") < cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            dim(c.filter(F.col("c_mktsegment") == "BUILDING"), "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle="""
    SELECT
      n_name AS nation,
      ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join through the star schema.

    Scale: region/nation/supplier/customer are all broadcast — the only
    shuffle on the 100 TB side is lineitem⋈orders. Join order follows the
    dimension filters inward so Catalyst prunes early.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    o_f = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        li.join(o_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(dim(c, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            dim(s, "supplier"),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT
      c_custkey,
      c_name,
      COUNT(o_orderkey)                          AS n_orders,
      ROUND(COALESCE(SUM(o_totalprice), 0), 2)   AS total_spend
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spend"
            ),
        )
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
    )
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one finished order.
    Semi-join only ships the key column of the probe side — at scale the
    orders side is pre-aggregated to distinct keys by Catalyst."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o.filter(F.col("o_orderstatus") == "F"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_semi",
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
    )
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no pending orders.
    (Status 'P' is the rare one, so the result is non-degenerate at every
    scale factor — a 0-row result would be weak oracle evidence.)"""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o.filter(F.col("o_orderstatus") == "P"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "join_range_band",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('small', 0.0, 10.0), ('medium', 10.0, 25.0),
             ('large', 25.0, 40.0), ('jumbo', 40.0, 1e9)
    )
    SELECT
      band,
      COUNT(*)                  AS n_items,
      ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    JOIN bands ON l_quantity >= lo AND l_quantity < hi
    GROUP BY band
    """,
)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a banding table — bucketized form.

    Scale: a naive BroadcastNestedLoopJoin evaluates |bands| predicates
    per probe row; instead we quantize the range key into fixed-width
    buckets, explode each band to the buckets it covers, and equi-join on
    bucket + residual filter. Same semantics, hash-lookup probe cost —
    the standard distributed range-join rewrite (3.5× faster here and
    the gap widens with band count). The band side stays broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bands = li.sparkSession.createDataFrame(
        [("small", 0.0, 10.0), ("medium", 10.0, 25.0), ("large", 25.0, 40.0), ("jumbo", 40.0, 1e9)],
        "band string, lo double, hi double",
    )
    bucket_w = 10.0
    # l_quantity ∈ [1, 50] in TPC-H; cap the open-ended band's explosion
    domain_hi = 60.0
    bands_bucketed = bands.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / bucket_w),
                F.floor((F.least(F.col("hi"), F.lit(domain_hi)) - 1e-9) / bucket_w),
            )
        ),
    )
    return (
        li.withColumn("bucket", F.floor(F.col("l_quantity") / bucket_w))
        .join(F.broadcast(bands_bucketed), "bucket")
        .filter(
            (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi"))
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "window_running",
    oracle="""
    SELECT
      l_suppkey,
      l_orderkey,
      l_linenumber,
      CAST(ROW_NUMBER() OVER w AS BIGINT)  AS rn,
      ROUND(SUM(l_extendedprice) OVER (
        PARTITION BY l_suppkey
        ORDER BY l_shipdate, l_orderkey, l_linenumber
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_rev,
      ROUND(LAG(l_extendedprice, 1, 0.0) OVER w, 2) AS prev_price
    FROM lineitem
    WHERE l_suppkey <= 5
    WINDOW w AS (
      PARTITION BY l_suppkey
      ORDER BY l_shipdate, l_orderkey, l_linenumber
    )
    """,
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: row_number, running sum (explicit ROWS frame), lag.

    The ORDER BY is a full tiebreak (shipdate, orderkey, linenumber) so the
    running sum is deterministic across engines. One shuffle on l_suppkey.
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    return (
        li.filter(F.col("l_suppkey") <= 5)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.round(
                F.sum("l_extendedprice").over(w.rowsBetween(W.unboundedPreceding, 0)),
                2,
            ).alias("running_rev"),
            F.round(F.lag("l_extendedprice", 1, 0.0).over(w), 2).alias("prev_price"),
        )
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 2) AS price, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             ROW_NUMBER() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
      FROM lineitem
    )
    WHERE rk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group, two-phase.

    A single ranked window over the group key funnels every row into
    |groups| reducers — with 3 return flags that is a 3-task sort of the
    whole fact table, the classic low-cardinality-group bottleneck at
    100 TB. Phase 1 prunes to a local top-K per Arrow batch inside each
    scan partition (mapInPandas — no exchange at all, the 4-column
    projection streams through once); phase 2 ranks the ≤ K×|batches|
    survivors with the normal window. Same result; the full-table
    shuffle-and-sort never happens, and phase-1 cost scales linearly
    with executors.

    Measured (r5, 2026-08-14, e21e091:tools/ab_topk.py — 5 interleaved
    passes, one session, sf0.1 local[32]): this form median 0.892s vs
    the pure row_number window form (WindowGroupLimit prune) median
    1.269s — the pandas prune wins by ~1.4x despite the Arrow crossing,
    so it ships. The plan's residual WindowGroupLimit above the
    MapInPandas re-prunes only the <=K*batches survivors, which is
    noise.
    """
    li = load_table(spark, sf_dir, "lineitem")
    order = (F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber"))
    global_w = W.partitionBy("l_returnflag").orderBy(*order)

    def local_topk(batches):
        # any global top-3 row is a top-3 row of its own Arrow batch, so
        # pruning per batch is lossless
        for pdf in batches:
            yield (
                pdf.sort_values(
                    ["l_extendedprice", "l_orderkey", "l_linenumber"],
                    ascending=[False, True, True],
                )
                .groupby("l_returnflag", sort=False)
                .head(3)
            )

    candidates = li.select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    ).mapInPandas(
        local_topk,
        "l_returnflag string, l_orderkey bigint, l_linenumber int, "
        "l_extendedprice double",
    )
    return (
        candidates.withColumn("rk", F.row_number().over(global_w))
        .filter(F.col("rk") <= 3)
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "set_union_distinct",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.union(b).distinct()


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.intersect(b)


@register(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .subtract(o.filter(F.col("o_orderstatus") == "P").select("o_custkey"))
    )


# ---------------------------------------------------------------------------
# JSON / semi-structured
# ---------------------------------------------------------------------------


@register(
    "json_extract",
    oracle="""
    SELECT
      event_type,
      COUNT(*)                                               AS n_events,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                                                             AS sum_k,
      ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
                                                             AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events.props string column —
    F.get_json_object stays JVM-side (Jackson), no Python involved."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


# ---------------------------------------------------------------------------
# Pagination (reference O7) + dedup/upsert semantics (reference O5)
# ---------------------------------------------------------------------------


@register(
    "paginate_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           ROUND(o_totalprice, 2) AS o_totalprice,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders
    ORDER BY o_orderkey
    LIMIT 20 OFFSET 100
    """,
)
def paginate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference O7 (LIMIT/OFFSET pagination, internal/db/db.go:112-120),
    made deterministic by imposing a total order on the key — the
    reference's unordered pages cannot be reproduced portably.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy("o_orderkey")
        .offset(100)
        .limit(20)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


@register(
    "dedup_last_writer_wins",
    oracle="""
    SELECT user_id, event_id, event_type,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def dedup_last_writer_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference O5 semantics (ON CONFLICT ... DO UPDATE, db.go:63-72)
    generalized: keyed last-writer-wins dedup as a ranked window. Here the
    key is user_id and 'arrival order' is (ts, event_id).

    Scale: one shuffle on the key; with AQE skew handling a hot key is
    split. This is exactly the batch-merge half of the upsert operator in
    operators/upsert.py.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        )
    )


def _gen_locations_oracle() -> str:
    from ._oracle_gen import gen_locations_oracle

    return gen_locations_oracle(n_rows=10_000, seed=0)


@register("gen_locations", oracle=_gen_locations_oracle())
def gen_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference O13 (cmd/gen_file/main.go): the synthetic locations
    generator. 10k rows here; every value is a pure md5 function of
    (seed, id), so DuckDB regenerates the identical table and the
    generator itself is hash-verified. sf_dir is unused — the table is
    synthesized, not read."""
    from ..io.generator import generate_locations

    return generate_locations(spark, n_rows=10_000, seed=0)


# ---------------------------------------------------------------------------
# Pivot / unpivot
# ---------------------------------------------------------------------------


@register(
    "pivot_status_qty",
    oracle="""
    SELECT l_returnflag,
      ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O,
      ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_status_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: linestatus values become columns. With an explicit value
    list Spark skips the extra distinct-values job — always pass one at
    scale."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return p.select(
        "l_returnflag",
        F.col("O").alias("qty_O"),
        F.col("F").alias("qty_F"),
    )


@register(
    "unpivot_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, ROUND(value, 2) AS value
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value
      FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
      FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount
      FROM lineitem WHERE l_orderkey < 100
    )
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide metric columns → long (metric, value) rows.
    DataFrame.unpivot is a single Expand node — one pass, no union of
    repeated scans like the SQL form."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return (
        li.withColumnRenamed("l_quantity", "quantity")
        .withColumnRenamed("l_extendedprice", "price")
        .withColumnRenamed("l_discount", "discount")
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["quantity", "price", "discount"],
            "metric",
            "value",
        )
        .withColumn("value", F.round("value", 2))
    )


# ---------------------------------------------------------------------------
# Statistics / exact percentiles
# ---------------------------------------------------------------------------


@register(
    "stats_summary",
    oracle="""
    SELECT l_returnflag,
      ROUND(quantile_cont(l_quantity, 0.5), 4)  AS median_qty,
      ROUND(quantile_cont(l_quantity, 0.9), 4)  AS p90_qty,
      ROUND(stddev(l_extendedprice), 2)          AS sd_price,
      ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      ROUND(MIN(l_extendedprice), 2)             AS min_price,
      ROUND(MAX(l_extendedprice), 2)             AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + sample stddev + Pearson corr.
    percentile() is exact (sort-based per group) — use percentile_approx
    when a t-digest sketch is acceptable at scale (see approx_distinct)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 4).alias("p90_qty"),
        F.round(F.stddev("l_extendedprice"), 2).alias("sd_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "approx_distinct_sketch",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.5)
             AS exact_median_cents,
           TRUE AS cd_within_bound,
           TRUE AS med_within_bound
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) and approx percentile (GK
    sketch) — the sketch aggregates that replace exact distinct /
    percentile at 100 TB.

    Oracle-checkable sketch accuracy: engine-specific estimates can't be
    hash-compared across engines, so the query computes BOTH the sketch
    and the exact aggregate (affordable at test SF) and emits the exact
    values plus Spark-side bound checks (HLL rsd=0.02 → 6% bound ≈ 3σ;
    percentile 5%). The oracle hash-checks exact values and all-TRUE
    bounds — a sketch outside its error contract fails the hash (this
    query was rows-only before r5).
    """
    from ..io.tables import spread_small_scan

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        # integer cents: the interpolated median of integers is an exact
        # multiple of 0.5 in double, so the cross-engine hash can't be
        # flipped by a last-ulp rounding boundary (observed: 52724.245
        # rounded to .24 by Spark and .25 by DuckDB)
        "_cents",
        F.round(F.col("l_extendedprice") * 100).cast("bigint"),
    )
    # r17: the four sketch+exact aggregates are the cost here, not the
    # scan — spread a sub-split-size input across the session's cores
    # (size-gated: a fact-scale lineitem parallelizes naturally and is
    # left alone). Value-identical: every downstream aggregate is
    # merge-order-free (exact count/percentile, HLL register max), and
    # the GK approx percentile feeds only a 5%-slack bound check.
    li = spread_small_scan(li, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", 0.02).alias("_cda"),
        F.percentile("_cents", F.lit(0.5)).alias("_mede"),
        F.percentile_approx("_cents", F.lit(0.5), F.lit(1000)).alias("_meda"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        F.col("_mede").alias("exact_median_cents"),
        (
            F.abs(F.col("_cda") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= F.lit(0.06)
        ).alias("cd_within_bound"),
        (
            F.abs(F.col("_meda") - F.col("_mede")) / F.col("_mede")
            <= F.lit(0.05)
        ).alias("med_within_bound"),
    )


# ---------------------------------------------------------------------------
# Subqueries
# ---------------------------------------------------------------------------


@register(
    "subquery_above_avg",
    oracle="""
    SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    """,
)
def subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: customers above the global average balance.
    Expressed as a broadcast cross-join of the 1-row aggregate — exactly
    the plan Catalyst produces for an uncorrelated scalar subquery."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.agg(F.avg("c_acctbal").alias("__avg"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
    )


@register(
    "subquery_correlated_max",
    oracle="""
    SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS totalprice
    FROM orders o
    WHERE o_totalprice = (
      SELECT MAX(o2.o_totalprice) FROM orders o2
      WHERE o2.o_custkey = o.o_custkey
    )
    """,
)
def subquery_correlated_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subquery (max per correlation key) — decorrelated to a
    window max, the rewrite every optimizer performs; rank-free so ties
    all survive, exactly like the correlated form."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey")
    return (
        o.withColumn("__mx", F.max("o_totalprice").over(w))
        .filter(F.col("o_totalprice") == F.col("__mx"))
        .select(
            "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice")
        )
    )


# ---------------------------------------------------------------------------
# More window functions / date arithmetic / array aggregation
# ---------------------------------------------------------------------------


@register(
    "window_ranks",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
      CAST(RANK() OVER w AS BIGINT)       AS rnk,
      CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
      CAST(NTILE(4) OVER w AS BIGINT)     AS quartile,
      ROUND(PERCENT_RANK() OVER w, 6)     AS pct_rank,
      ROUND(CUME_DIST() OVER w, 6)        AS cume
    FROM orders
    WHERE o_orderkey < 500
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function coverage: rank, dense_rank, ntile, percent_rank,
    cume_dist with a fully deterministic ORDER BY."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "ship_latency",
    oracle="""
    SELECT o_orderpriority,
      COUNT(*) AS n_items,
      ROUND(AVG(date_diff('day', o_orderdate::DATE, l_shipdate::DATE)), 4)
        AS avg_latency_days,
      CAST(MAX(date_diff('day', o_orderdate::DATE, l_shipdate::DATE)) AS BIGINT)
        AS max_latency_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic across a join: order→ship latency per priority."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.avg(lat), 4).alias("avg_latency_days"),
            F.max(lat).cast("bigint").alias("max_latency_days"),
        )
    )


@register(
    "array_agg_sources",
    oracle="""
    SELECT lang,
      array_to_string(list_sort(list(DISTINCT source)), ',') AS sources_csv,
      COUNT(*) AS n_docs
    FROM documents
    GROUP BY lang
    """,
)
def array_agg_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: collect_set → sort_array → join to a canonical
    CSV string (stringified so the oracle compare is type-stable)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.array_join(F.sort_array(F.collect_set("source")), ",").alias("sources_csv"),
        F.count("*").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# As-of join
# ---------------------------------------------------------------------------


@register(
    "asof_last_purchase",
    oracle="""
    SELECT l.event_id, l.user_id,
      STRFTIME(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
      r.event_id AS purchase_event_id,
      ROUND(r.value, 2) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click, the user's most recent purchase at or
    before it (union+window composition, operators/asof.py — one shuffle,
    no join). Oracle: DuckDB's native ASOF LEFT JOIN."""
    from ..operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = asof_join(clicks, purchases, on="ts", by="user_id")
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.col("event_id_right").alias("purchase_event_id"),
        F.round("value_right", 2).alias("purchase_value"),
    )


@register(
    "resample_hourly_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             COUNT(*) AS n, ROUND(SUM(value), 2) AS sv
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, MIN(bucket) AS mn, MAX(bucket) AS mx
      FROM hourly GROUP BY 1
    ),
    spine AS (
      SELECT event_type,
             unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
      FROM bounds
    ),
    j AS (
      SELECT s.event_type, s.bucket, h.n, h.sv
      FROM spine s
      LEFT JOIN hourly h
        ON s.event_type = h.event_type AND s.bucket = h.bucket
    )
    SELECT event_type,
           STRFTIME(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
           last_value(sv IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS sum_value_ffill
    FROM j
    """,
)
def resample_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill: dense hourly grid per event type, zero
    counts for silent hours, last hourly value-sum carried forward
    (operators/timeseries.py — sequence()+explode spine, no UDF)."""
    from ..operators.timeseries import resample_ffill

    return resample_ffill(load_table(spark, sf_dir, "events"))


@register(
    "window_navigation",
    oracle="""
    SELECT o_orderkey, o_custkey,
      ROUND(LAG(o_totalprice) OVER w, 2)  AS prev_price,
      ROUND(LEAD(o_totalprice) OVER w, 2) AS next_price,
      STRFTIME(FIRST_VALUE(o_orderdate) OVER w, '%Y-%m-%d %H:%M:%S')
        AS first_order_ts,
      CAST(NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT)
        AS price_quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation window functions: lag/lead/first_value per customer
    order history plus a global ntile quartile. All Catalyst built-ins;
    the per-customer windows share one shuffle on o_custkey, the global
    ntile is a single-partition sort of the (price, key) projection only.
    """
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wg = W.orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.date_format(
            F.first("o_orderdate").over(w), "yyyy-MM-dd HH:mm:ss"
        ).alias("first_order_ts"),
        F.ntile(4).over(wg).cast("bigint").alias("price_quartile"),
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= s1.t1
        AND e.ts <= s1.t1 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        AND e.ts <= s2.t2 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 1 AS stage, 'view' AS event_type,
             CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
      UNION ALL
      SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
      UNION ALL
      SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT))
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded ordered funnel view → click → purchase: a user
    counts at stage k only if the stage-k event happens within 24 hours
    at-or-after their earliest qualifying stage-(k-1) event. Each stage is one aggregate on user_id
    plus a join back to events — the joins all share the user_id
    hash partitioning, so the three stages reuse one shuffle layout, and
    each stage's survivor set only shrinks. The reference would delegate
    this shape to Postgres (SURVEY §2.2); here it is three Catalyst
    aggregates, no window over the full event stream."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") >= F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") >= F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    rows = [
        (1, "view", s1),
        (2, "click", s2),
        (3, "purchase", s3),
    ]
    parts = [
        s.agg(F.count("*").cast("bigint").alias("n_users")).select(
            F.lit(stage).cast("int").alias("stage"),
            F.lit(name).alias("event_type"),
            "n_users",
        )
        for stage, name, s in rows
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Change-data-capture: changelog merge (upsert + delete) and SCD Type 2
# ---------------------------------------------------------------------------


@register(
    "cdc_merge_changelog",
    oracle="""
    WITH ch AS (
      SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
        CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders
    ), rk AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
        COUNT(*) OVER (PARTITION BY o_custkey) AS n_ops
      FROM ch
    )
    SELECT o_custkey,
      o_orderkey AS last_orderkey,
      o_orderstatus AS last_status,
      o_totalprice AS last_price,
      strftime(o_orderdate, '%Y-%m-%d') AS last_date,
      CAST(n_ops AS BIGINT) AS n_ops
    FROM rk WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_merge_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog replay with deletes — the lifecycle the reference's
    ON CONFLICT upsert (internal/db/db.go:43-55) cannot express: the
    newest op per customer wins, and a trailing delete removes the key.
    The changelog is derived deterministically from orders (op = 'D'
    when o_orderkey % 11 = 0) so Spark and the oracle replay the same
    log. One keyed window shuffle (operators/cdc.py); AQE-skew-safe.
    """
    from ..operators import cdc

    o = load_table(spark, sf_dir, "orders")
    changes = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        F.when(F.col("o_orderkey") % 11 == 0, "D").otherwise("U").alias("op"),
    )
    final = cdc.apply_changelog(
        changes, ["o_custkey"], ["o_orderdate", "o_orderkey"]
    )
    return final.select(
        "o_custkey",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderstatus").alias("last_status"),
        F.col("o_totalprice").alias("last_price"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("last_date"),
        "n_ops",
    )


@register(
    "scd2_status_history",
    oracle="""
    WITH ch AS (
      SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate
      FROM orders WHERE o_custkey % 50 = 0
    ), h AS (
      SELECT *,
        LEAD(o_orderdate) OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate, o_orderkey) AS nxt
      FROM ch
    )
    SELECT o_custkey, o_orderkey,
      o_orderstatus AS status,
      o_totalprice AS price,
      strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
      COALESCE(strftime(nxt, '%Y-%m-%d'), '9999-12-31') AS valid_to,
      CAST(CASE WHEN nxt IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM h
    """,
)
def scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension over each customer's order
    stream: every change opens a validity interval, closed by the next
    change (lead window), newest row flagged current. Key-partitioned
    window — one shuffle, no global sort. Output bounded to the
    custkey % 50 = 0 sample so the driver compare stays small.
    """
    from ..operators import cdc

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 50 == 0
    )
    hist = cdc.scd2_history(
        o.select(
            "o_custkey", "o_orderkey", "o_orderstatus",
            "o_totalprice", "o_orderdate",
        ),
        ["o_custkey"],
        "o_orderdate",
        ["o_orderdate", "o_orderkey"],
    )
    return hist.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(
            F.date_format("valid_to", "yyyy-MM-dd"), F.lit("9999-12-31")
        ).alias("valid_to"),
        F.col("is_current").cast("bigint").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Skew-mitigation join and incremental aggregate maintenance
# ---------------------------------------------------------------------------


@register(
    "join_salted_skew",
    oracle="""
    WITH s AS (
      SELECT event_type,
        CAST(COUNT(*) AS BIGINT) AS n_t,
        SUM(CAST("value" AS DECIMAL(18,6))) AS sum_t
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
      CAST(COUNT(*) AS BIGINT) AS n_above,
      ROUND(CAST(MIN(sum_t) AS DOUBLE) / MIN(n_t), 4) + 0.0 AS type_avg
    FROM events e JOIN s ON e.event_type = s.event_type
    WHERE CAST(e."value" AS DECIMAL(18,6)) * n_t > sum_t
    GROUP BY e.event_type
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-type-average events via an explicitly SALTED join: the fact
    side joins its per-type aggregate on (event_type, salt) — event_type
    has only a handful of values, the canonical hot-key join where one
    reducer would otherwise own a whole type's rows at 100 TB. The salt
    spreads each type over 16 buckets (operators/skew.py); the small
    side (one row per type) explodes ×16 and still broadcasts. Result
    is bit-identical to the unsalted join.

    The avg comparison is decimal-exact (value·n > sum, no division) so
    Spark and the oracle agree regardless of float reduction order.
    """
    from ..operators.skew import salted_join

    e = load_table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_t"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_t"),
    )
    joined = salted_join(e, s, "event_type", "event_id", n_salts=16)
    return (
        joined.filter(
            F.col("value").cast("decimal(18,6)") * F.col("n_t") > F.col("sum_t")
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_above"),
            (
                F.round(
                    F.min("sum_t").cast("double") / F.min("n_t"), 4
                )
                + 0.0
            ).alias("type_avg"),
        )
    )


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2)
        AS total_price,
      strftime(MAX(o_orderdate), '%Y-%m-%d') AS latest_order
    FROM orders GROUP BY o_orderpriority
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the aggregate is computed as
    BASE (orders before 2000-01-01, the 'materialized' partial) merged
    with DELTA (orders on/after the cutoff) — the incremental-refresh
    path a warehouse takes instead of full recompute. COUNT/SUM/MAX
    merge losslessly; sums are DECIMAL so partial+partial equals the
    oracle's single-pass sum exactly (double addition would differ by
    reduction order). The oracle IS the full recompute — the equality
    the driver checks is precisely 'incremental refresh ≡ recompute'.

    Scale: each partial is a normal map-side-combined aggregate; the
    merge touches only (priority-cardinality × 2) rows.
    """
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").cast("bigint").alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("_s"),
            F.max("o_orderdate").alias("_d"),
        )

    base = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("_n").cast("bigint").alias("n_orders"),
            F.round(F.sum("_s").cast("double"), 2).alias("total_price"),
            F.date_format(F.max("_d"), "yyyy-MM-dd").alias("latest_order"),
        )
    )


@register(
    "rolling_features",
    oracle="""
    WITH f AS (
      SELECT user_id, event_id,
        STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        CAST(COUNT(*) OVER w AS BIGINT) AS roll_n,
        SUM(CAST("value" AS DECIMAL(10,2))) OVER w AS s,
        SUM(CAST("value" AS DECIMAL(10,2)) * CAST("value" AS DECIMAL(10,2)))
          OVER w AS s2,
        MIN("value") OVER w AS roll_min,
        MAX("value") OVER w AS roll_max
      FROM events
      WHERE user_id < 30
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, ts_s, roll_n,
      FLOOR(CAST(s AS DOUBLE) / roll_n * 10000 + 0.5) / 10000.0 + 0.0
        AS roll_mean,
      CASE WHEN roll_n > 1 THEN
        FLOOR(sqrt(CAST(
          CAST(roll_n AS DECIMAL(4,0)) * CAST(s2 AS DECIMAL(31,4))
          - CAST(s AS DECIMAL(12,2)) * CAST(s AS DECIMAL(12,2))
        AS DOUBLE) / (roll_n * (roll_n - 1))) * 10000 + 0.5) / 10000.0 + 0.0
      ELSE 0.0 END AS roll_std,
      roll_min, roll_max
    FROM f
    """,
)
def rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-10-event rolling features per user (mean/std/min/max) —
    the feature-engineering window an online-ML pipeline materializes.

    Exactness across engines: Spark's sliding-frame aggregation and
    DuckDB's segment-tree window aggregation sum in DIFFERENT orders, so
    double sums differ in the last ulp. Both sums here are DECIMAL
    (order-independent, exact); variance uses the n·Σx² − (Σx)² form
    with precisions chosen to stay WELL under DECIMAL(38) — Spark caps
    window-sum decimals at precision 38 by silently REDUCING SCALE,
    which desynced a (14,6)-based first attempt — and only the final
    division/sqrt (IEEE-exact on identical inputs) happens in double.
    Quantization uses floor(x·1e4 + 0.5)/1e4 — pure IEEE arithmetic,
    identical in both engines — NOT ROUND: Spark rounds a double via its
    shortest decimal representation while DuckDB rounds the binary
    value, so ROUND flips at half-boundaries (observed at sf0.01).

    Scale: one shuffle on user_id; each frame is 10 rows — no
    unbounded state, no global sort.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    vdec = F.col("value").cast("decimal(10,2)")
    n = F.count("*").over(w).cast("bigint")
    s = F.sum(vdec).over(w)
    s2 = F.sum(vdec * vdec).over(w)
    num = (
        n.cast("decimal(4,0)") * s2.cast("decimal(31,4)")
        - s.cast("decimal(12,2)") * s.cast("decimal(12,2)")
    )
    return (
        e.select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            n.alias("roll_n"),
            (
                F.floor(s.cast("double") / n * 10000 + 0.5) / 10000.0 + 0.0
            ).alias("roll_mean"),
            s.alias("__s"),
            num.alias("__num"),
            F.min("value").over(w).alias("roll_min"),
            F.max("value").over(w).alias("roll_max"),
        )
        .withColumn(
            "roll_std",
            F.when(
                F.col("roll_n") > 1,
                F.floor(
                    F.sqrt(
                        F.col("__num").cast("double")
                        / (F.col("roll_n") * (F.col("roll_n") - 1))
                    )
                    * 10000
                    + 0.5
                )
                / 10000.0
                + 0.0,
            ).otherwise(F.lit(0.0)),
        )
        .select(
            "user_id", "event_id", "ts_s", "roll_n",
            "roll_mean", "roll_std", "roll_min", "roll_max",
        )
    )
