"""Round-4 surface widening: time-range window frames, gaps-and-islands,
sequential-path mining, PMI co-occurrence, schema-drift union, deterministic
grouped mode, array-function surface, and containment dedup.

The reference delegates every read-side computation to Postgres SQL
(internal/db/db.go:112-124); these queries extend the engine's relational
surface with shapes its users would run downstream of the ingested data,
each expressed as a single declarative DataFrame lineage with a DuckDB
oracle.

Engine-stability rules follow queries/stats.py: doubles are floor-quantized
onto integer grids (cents) BEFORE any reduction; every cross-engine double
computation is a single division of exact integers; ln() outputs are
floor-quantized; ROUND is used only on a single already-identical double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..io.tables import load_table
from ..operators import dedup
from ..operators.similarity import _q6
from . import register


_TS = "yyyy-MM-dd HH:mm:ss"


@register(
    "trailing_hour_window",
    oracle="""
    SELECT event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w
                AS BIGINT) AS sum_cents_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def trailing_hour_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: the user's event count and value sum over the trailing
    hour — a time-RANGE window frame (vs the ROWS frames elsewhere in the
    registry).

    The frame is defined on exact integer microseconds, so frame
    membership is bit-identical across engines (ties at equal ts are
    RANGE peers in both). Values are quantized to integer cents BEFORE
    the windowed sum — pure BIGINT arithmetic, immune to reduction
    order. One shuffle on user_id; per-key state is the trailing hour
    only, so executor memory is bounded by per-user event rate, not
    history length — the plan survives an unbounded time axis.
    """
    e = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        F.count("*").over(w).cast("bigint").alias("n_1h"),
        F.sum(cents).over(w).cast("bigint").alias("sum_cents_1h"),
    )


@register(
    "orders_gap_islands",
    oracle="""
    WITH m AS (
      SELECT DISTINCT o_custkey,
        CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym
      FROM orders
    ), isl AS (
      SELECT o_custkey, ym,
        ym - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY ym)
          AS island
      FROM m
    ), s AS (
      SELECT o_custkey, island, CAST(COUNT(*) AS BIGINT) AS streak
      FROM isl GROUP BY 1, 2
    )
    SELECT o_custkey,
           CAST(SUM(streak) AS BIGINT) AS n_months,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(streak) AS BIGINT) AS max_streak
    FROM s GROUP BY 1
    """,
)
def orders_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per customer, streaks of consecutive months
    with at least one order (longest streak, island count).

    The classic formulation — month-number minus row_number is constant
    within a consecutive run — entirely in integer arithmetic. The
    distinct, the window, and both aggregations all partition on
    o_custkey, so Catalyst reuses ONE hash-partitioning end-to-end
    (single shuffle); per-key state is the month list, bounded by the
    calendar, not the order count.
    """
    o = load_table(spark, sf_dir, "orders")
    m = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("ym"),
    ).distinct()
    w = W.partitionBy("o_custkey").orderBy("ym")
    isl = m.withColumn("island", F.col("ym") - F.row_number().over(w))
    s = isl.groupBy("o_custkey", "island").agg(
        F.count("*").cast("bigint").alias("streak")
    )
    return s.groupBy("o_custkey").agg(
        F.sum("streak").cast("bigint").alias("n_months"),
        F.count("*").cast("bigint").alias("n_islands"),
        F.max("streak").cast("bigint").alias("max_streak"),
    )


@register(
    "sequence_top_paths",
    oracle="""
    WITH p AS (
      SELECT event_type || '>' ||
             LEAD(event_type, 1) OVER w || '>' ||
             LEAD(event_type, 2) OVER w AS path
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n
    FROM p WHERE path IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path ASC
    LIMIT 10
    """,
)
def sequence_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 within-user event-type trigram paths — sequential pattern
    mining's workhorse shape (what flows into 'users who did A>B>C').

    One window pass (two LEADs share the user_id partitioning and the
    (ts, event_id) total order — event_id uniqueness makes the sequence
    deterministic), then a path count whose map-side partial aggregation
    bounds the shuffle by distinct paths (|event_types|³ ceiling), not
    event count. The top-10 compiles to TakeOrderedAndProject — no
    global sort materializes. Ties broken by path text for a
    deterministic result set.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    path = F.when(
        F.lead("event_type", 2).over(w).isNotNull(),
        F.concat_ws(
            ">",
            F.col("event_type"),
            F.lead("event_type", 1).over(w),
            F.lead("event_type", 2).over(w),
        ),
    )
    return (
        e.select(path.alias("path"))
        .filter(F.col("path").isNotNull())
        .groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(10)
    )


@register(
    "cooccurrence_pmi",
    oracle="""
    WITH ue AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
          FROM events),
    c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM ue GROUP BY 1),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM ue a JOIN ue b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, c_ab,
      FLOOR(ln(CAST(c_ab * n.n_users AS DOUBLE)
               / CAST(ca.cnt * cb.cnt AS DOUBLE)) * 1e6 + 0.5) / 1e6 + 0.0
        AS pmi
    FROM p
    JOIN c ca ON ca.event_type = p.type_a
    JOIN c cb ON cb.event_type = p.type_b
    CROSS JOIN n
    """,
)
def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types co-occurring in
    the same user's history — the association-strength upgrade of
    basket_type_pairs (raw counts can't distinguish 'popular' from
    'correlated').

    All counts reduce to exact BIGINTs; PMI is ln of ONE double division
    of exact integer products (c_ab·N and c_a·c_b — identical operand
    order in both engines), floor-quantized to the 1e-6 grid against
    libm last-ulp drift. Instead of a distinct + self-join (which would
    scan the fact once per marginal), ONE groupBy(user_id) collects each
    user's sorted type set; pairs and marginals both unfold from that
    array with explode — the pair fan-out is |types|²/2 per user, array-
    local, no join. The three consumers of the per-user aggregate share
    an identical exchange subtree (ReusedExchange dedupes it), so
    event-scale data is scanned and shuffled once; everything joined
    afterwards is |types|-sized and broadcasts.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types")
    )
    n = per_user.agg(F.count("*").cast("bigint").alias("n_users"))
    c = (
        per_user.select(F.explode("types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    combos = F.flatten(
        F.transform(
            "types",
            lambda x, i: F.transform(
                F.slice(F.col("types"), i + 2, F.size("types")),
                lambda y: F.struct(
                    x.alias("type_a"), y.alias("type_b")
                ),
            ),
        )
    )
    p = (
        per_user.select(F.explode(combos).alias("pair"))
        .select("pair.type_a", "pair.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
    )
    pmi = _q6(
        F.log(
            (F.col("c_ab") * F.col("n_users")).cast("double")
            / (F.col("ca") * F.col("cb")).cast("double")
        )
    )
    return (
        p.join(c.select(F.col("event_type").alias("type_a"), F.col("cnt").alias("ca")), "type_a")
        .join(c.select(F.col("event_type").alias("type_b"), F.col("cnt").alias("cb")), "type_b")
        .crossJoin(n)
        .select("type_a", "type_b", "c_ab", pmi.alias("pmi"))
    )


@register(
    "schema_drift_union",
    oracle="""
    WITH u AS (
      SELECT o_orderkey, CAST(NULL AS VARCHAR) AS o_orderpriority,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             'legacy' AS snapshot
      FROM orders WHERE year(o_orderdate) < 1994
      UNION ALL
      SELECT o_orderkey, o_orderpriority,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             'modern' AS snapshot
      FROM orders WHERE year(o_orderdate) >= 1994
    )
    SELECT snapshot, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS rev_cents
    FROM u GROUP BY 1, 2
    """,
)
def schema_drift_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution merge: a legacy snapshot missing a column is
    unioned with the current schema via unionByName(allowMissingColumns)
    — the absent column null-fills, exactly how a long-lived ingest
    pipeline absorbs old parquet partitions written before a column
    existed.

    The aggregate then groups over the nullable drifted column (null
    group keys flow through both engines identically). Revenue is
    summed as exact integer cents. Column resolution is by NAME, not
    position — the property the reference's header-map scan (O2,
    internal/writer/writer.go:86-99) enforces at CSV ingest, restated
    at the schema-evolution level.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    legacy = o.filter(F.year("o_orderdate") < 1994).select(
        "o_orderkey", cents.alias("cents"), F.lit("legacy").alias("snapshot")
    )
    modern = o.filter(F.year("o_orderdate") >= 1994).select(
        "o_orderkey",
        F.col("o_orderpriority"),
        cents.alias("cents"),
        F.lit("modern").alias("snapshot"),
    )
    u = legacy.unionByName(modern, allowMissingColumns=True)
    return u.groupBy("snapshot", "o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("rev_cents"),
    )


@register(
    "grouped_mode",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT event_type, user_id, n,
        ROW_NUMBER() OVER (PARTITION BY event_type
                           ORDER BY n DESC, user_id ASC) AS rn,
        CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
      FROM c
    )
    SELECT event_type, user_id AS mode_user_id, n AS mode_n,
           FLOOR(CAST(n AS DOUBLE) / total * 1e6 + 0.5) / 1e6 + 0.0
             AS share
    FROM r WHERE rn = 1
    """,
)
def grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: the most-active user per event
    type, ties broken by minimum user_id.

    Built from counts + one ranking window instead of a native mode()
    aggregate precisely because engines break frequency ties
    arbitrarily — the (n DESC, user_id ASC) order pins a unique winner
    in both. The count's map-side partial aggregation reduces the
    shuffle to distinct (type, user) pairs; the window partitions by
    event_type over that already-reduced frame. share is one double
    division of exact integers, floor-quantized.
    """
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("event_type", "user_id").agg(
        F.count("*").cast("bigint").alias("n")
    )
    wr = W.partitionBy("event_type").orderBy(F.desc("n"), F.asc("user_id"))
    wt = W.partitionBy("event_type")
    r = c.select(
        "event_type",
        "user_id",
        "n",
        F.row_number().over(wr).alias("rn"),
        F.sum("n").over(wt).cast("bigint").alias("total"),
    )
    return r.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("user_id").alias("mode_user_id"),
        F.col("n").alias("mode_n"),
        _q6(F.col("n").cast("double") / F.col("total")).alias("share"),
    )


@register(
    "array_stats_surface",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS n_dims,
           CAST(list_max(embedding) AS DOUBLE) AS v_max,
           CAST(list_min(embedding) AS DOUBLE) AS v_min,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT)
             AS n_positive,
           CAST(list_position(embedding, list_max(embedding)) AS BIGINT)
             AS argmax_pos
    FROM embeddings
    """,
)
def array_stats_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column: size,
    extrema, predicate filter, and argmax position — the building blocks
    the similarity operators compose, surfaced directly.

    Pure projection (no shuffle, whole-stage codegen end-to-end).
    Extrema are exact float32 comparisons widened losslessly to double;
    argmax is array_position on the exact max value — first-match
    semantics in both engines, deterministic because comparison is on
    identical bit patterns, with no arithmetic that could reorder.
    """
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(emb).cast("bigint").alias("n_dims"),
        F.array_max(emb).cast("double").alias("v_max"),
        F.array_min(emb).cast("double").alias("v_min"),
        F.size(F.filter(emb, lambda x: x > 0)).cast("bigint").alias(
            "n_positive"
        ),
        F.array_position(emb, F.array_max(emb)).cast("bigint").alias(
            "argmax_pos"
        ),
    )


_CONTAINMENT_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM tok WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    bo AS (
      SELECT p.doc_a, p.doc_b, p.inter, x.n AS na, y.n AS nb
      FROM pairs p
      JOIN sizes x ON p.doc_a = x.doc_id
      JOIN sizes y ON p.doc_b = y.doc_id
    )
    SELECT src, dst, containment FROM (
      SELECT doc_a AS src, doc_b AS dst,
             ROUND(inter * 1.0 / na, 4) AS containment FROM bo
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst,
             ROUND(inter * 1.0 / nb, 4) AS containment FROM bo
    ) WHERE containment >= 0.7
    """


@register("dedup_containment", oracle=_CONTAINMENT_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 3-gram containment pairs (threshold 0.7) — the
    asymmetric dedup signal that catches subset duplication (doc + its
    excerpt) which symmetric Jaccard dilutes. See
    operators/dedup.py::containment_pairs for the scale architecture
    (shared candidate generation with the Jaccard family)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(d, threshold=0.7)


@register(
    "pit_status_lookup",
    oracle="""
    WITH ch AS (
      SELECT o_custkey, o_orderdate, o_orderstatus FROM (
        SELECT o_custkey, o_orderdate, o_orderstatus,
          ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                             ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1
    ), ev AS (
      SELECT event_id, user_id, ts FROM events WHERE user_id % 50 = 0
    )
    SELECT e.event_id, e.user_id,
      STRFTIME(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      ch.o_orderstatus AS status_at_ts,
      STRFTIME(ch.o_orderdate, '%Y-%m-%d') AS status_since
    FROM ev e ASOF LEFT JOIN ch
      ON e.user_id = ch.o_custkey AND ch.o_orderdate <= e.ts
    """,
)
def pit_status_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: each event joined to the status
    its user's order stream had AT that moment — the event-to-SCD2
    lookup every warehouse runs ('what plan was the user on when they
    clicked'). Oracle uses DuckDB's native ASOF JOIN.

    Composition of two existing operators: the change stream is
    deduplicated to last-per-(key, date) (making the as-of target
    unique per timestamp — determinism), then operators/asof.py's
    union+window as-of join carries the latest prior status forward:
    ONE shuffle on the key, no range join, per-key state only. The
    user sample bounds driver-compare size, not the technique.
    """
    from ..operators.asof import asof_join

    o = load_table(spark, sf_dir, "orders")
    wch = W.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey")
    )
    ch = (
        o.withColumn("rn", F.row_number().over(wch))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderstatus"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("d_s"),
        )
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 50 == 0)
        .select("event_id", "user_id", "ts")
    )
    j = asof_join(ev, ch, on="ts", by="user_id",
                  right_cols=["o_orderstatus", "d_s"])
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS).alias("ts_s"),
        F.col("o_orderstatus_right").alias("status_at_ts"),
        F.col("d_s_right").alias("status_since"),
    )


@register(
    "time_weighted_avg",
    oracle="""
    WITH d AS (
      SELECT user_id,
        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
        epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id))
          - epoch_us(ts) AS dur_us
      FROM events
    )
    SELECT user_id,
      CAST(COUNT(*) AS BIGINT) AS n_held,
      CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
      FLOOR(CAST(SUM(cents * dur_us) AS DOUBLE)
            / CAST(SUM(dur_us) * 100 AS DOUBLE) * 1e6 + 0.5) / 1e6 + 0.0
        AS twa_value
    FROM d WHERE dur_us IS NOT NULL
    GROUP BY user_id
    HAVING SUM(dur_us) > 0
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's value signal — the step
    function is held between consecutive events, so each reading is
    weighted by how long it was current (the metric behind 'average
    balance', 'mean fleet size', any sampled gauge).

    Weights are exact integer microsecond durations from one lead
    window; the weighted sum is BIGINT cents·µs (bounded by per-user
    history span — no float until the final division, which is ONE
    double op quantized on the 1e-6 grid). Window and aggregate share
    the user_id partitioning: one shuffle end-to-end.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias(
            "cents"
        ),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    g = d.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_held"),
        F.sum("dur_us").cast("bigint").alias("total_dur_us"),
        F.sum(F.col("cents") * F.col("dur_us")).alias("wsum"),
    )
    twa = _q6(
        F.col("wsum").cast("double")
        / (F.col("total_dur_us") * F.lit(100)).cast("double")
    )
    return g.filter(F.col("total_dur_us") > 0).select(
        "user_id", "n_held", "total_dur_us", twa.alias("twa_value")
    )


@register(
    "tumbling_ohlc",
    oracle="""
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
        ROW_NUMBER() OVER w AS rn,
        COUNT(*) OVER (PARTITION BY event_type, date_trunc('hour', ts))
          AS cnt
      FROM events
      WINDOW w AS (PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts, event_id)
    )
    SELECT event_type, STRFTIME(h, '%Y-%m-%d %H:%M:%S') AS hour_s,
      CAST(MAX(CASE WHEN rn = 1 THEN cents END) AS BIGINT) AS open_c,
      CAST(MAX(cents) AS BIGINT) AS high_c,
      CAST(MIN(cents) AS BIGINT) AS low_c,
      CAST(MAX(CASE WHEN rn = cnt THEN cents END) AS BIGINT) AS close_c,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(cents) AS BIGINT) AS vol_cents
    FROM b GROUP BY 1, 2
    """,
)
def tumbling_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event type: open/high/low/close of the
    value signal plus volume — the time-series downsampling shape
    (monitoring rollups, market bars) the reference's users would run
    nightly.

    Open/close need a total order; (ts, event_id) pins one, and the
    rank window + the candle aggregate share the same (type, hour)
    partitioning — one shuffle. Values quantized to integer cents
    before any aggregate: every output column is exact BIGINT
    arithmetic. At 100 TB the per-partition state is one candle's
    events; hot hours salt naturally via AQE skew handling.
    """
    e = load_table(spark, sf_dir, "events")
    h = F.date_trunc("hour", F.col("ts"))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    w = W.partitionBy("event_type", h).orderBy("ts", "event_id")
    wall = W.partitionBy("event_type", h)
    b = e.select(
        "event_type",
        h.alias("h"),
        cents.alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wall).alias("cnt"),
    )
    return b.groupBy(
        "event_type", F.date_format("h", _TS).alias("hour_s")
    ).agg(
        F.max(F.when(F.col("rn") == 1, F.col("cents")))
        .cast("bigint")
        .alias("open_c"),
        F.max("cents").cast("bigint").alias("high_c"),
        F.min("cents").cast("bigint").alias("low_c"),
        F.max(F.when(F.col("rn") == F.col("cnt"), F.col("cents")))
        .cast("bigint")
        .alias("close_c"),
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("vol_cents"),
    )


@register(
    "embedding_pq_codes",
    oracle="""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sub AS (SELECT e.*, s.si FROM e
            CROSS JOIN (SELECT UNNEST(range(8)) AS si) s),
    d AS (
      SELECT vec_id, si, cid,
        (v[si*8+1]-cv[si*8+1])*(v[si*8+1]-cv[si*8+1])
        + (v[si*8+2]-cv[si*8+2])*(v[si*8+2]-cv[si*8+2])
        + (v[si*8+3]-cv[si*8+3])*(v[si*8+3]-cv[si*8+3])
        + (v[si*8+4]-cv[si*8+4])*(v[si*8+4]-cv[si*8+4])
        + (v[si*8+5]-cv[si*8+5])*(v[si*8+5]-cv[si*8+5])
        + (v[si*8+6]-cv[si*8+6])*(v[si*8+6]-cv[si*8+6])
        + (v[si*8+7]-cv[si*8+7])*(v[si*8+7]-cv[si*8+7])
        + (v[si*8+8]-cv[si*8+8])*(v[si*8+8]-cv[si*8+8]) AS dist2
      FROM sub CROSS JOIN cent
    ),
    a AS (
      SELECT vec_id, si, cid, dist2,
        ROW_NUMBER() OVER (PARTITION BY vec_id, si
                           ORDER BY dist2, cid) AS rk
      FROM d
    )
    SELECT vec_id, CAST(si AS BIGINT) AS si, CAST(cid AS BIGINT) AS code,
           ROUND(dist2, 6) AS dist2_q
    FROM a WHERE rk = 1
    """,
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each 64-dim embedding split into 8
    subvectors, each assigned to its nearest of 16 md5-sampled
    sub-centroids — the compression step in front of every
    billion-vector ANN index (IVF-PQ), emitting (vector, subspace,
    code, residual).

    Zero shuffles and zero driver collects: the 16-row codebook folds
    into ONE array in a single-row aggregate, cross-joined back as a
    broadcast; assignment is then a pure codegen'd projection —
    argmin via array_min over (dist², cid) structs (lexicographic
    struct order = min distance, id tie-break). Distances are
    explicit left-fold sums, written with the same operand order as
    the oracle SQL, so doubles agree bit-for-bit and the argmin is
    cross-engine stable. At 100 TB the codebook stays tiny and the
    scan is embarrassingly parallel — this is the exact shape of the
    IVF list assignment (operators/similarity.py), one level down.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = (
        v.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(16)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    cb = cent.agg(F.collect_list(F.struct("cid", "cv")).alias("cb"))

    def dist2(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    def best(si: int) -> Column:
        sub_v = F.slice(F.col("v"), si * 8 + 1, 8)
        return F.array_min(
            F.transform(
                F.col("cb"),
                lambda c: F.struct(
                    dist2(sub_v, F.slice(c["cv"], si * 8 + 1, 8)).alias(
                        "d"
                    ),
                    c["cid"].alias("cid"),
                ),
            )
        )

    codes = F.array(
        *[
            F.struct(
                F.lit(si).cast("bigint").alias("si"),
                best(si)["cid"].cast("bigint").alias("code"),
                F.round(best(si)["d"], 6).alias("dist2_q"),
            )
            for si in range(8)
        ]
    )
    return (
        v.crossJoin(F.broadcast(cb))
        .select("vec_id", F.explode(codes).alias("r"))
        .select("vec_id", "r.si", "r.code", "r.dist2_q")
    )


@register(
    "trending_hourly_topk",
    oracle="""
    WITH c AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT STRFTIME(h, '%Y-%m-%d %H:%M:%S') AS hour_s, event_type, n,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT h, event_type, n,
        ROW_NUMBER() OVER (PARTITION BY h
                           ORDER BY n DESC, event_type ASC) AS rk
      FROM c
    ) WHERE rk <= 3
    """,
)
def trending_hourly_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour top-3 trending event types — the leaderboard shape
    behind every 'trending now' panel, as a rank window over an
    already-reduced hourly rollup.

    The count's map-side combine shrinks the shuffle to |hours|×|types|
    rows BEFORE the ranking window sees anything, and the rank-≤-3
    filter compiles to Spark's WindowGroupLimit pushdown (local top-3
    per partition below the exchange). Tie-break on event_type pins a
    deterministic leaderboard.
    """
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), F.col("event_type")
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = W.partitionBy("h").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.date_format("h", _TS).alias("hour_s"),
            "event_type",
            "n",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


@register(
    "supplier_triangles",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_suppkey AS s, o_custkey AS c
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), shared AS (
      SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM e a JOIN e b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s
    ), directed AS (
      SELECT s1 AS src, s2 AS dst, n_shared FROM shared
      UNION ALL
      SELECT s2 AS src, s1 AS dst, n_shared FROM shared
    ), knn AS (
      SELECT src, dst FROM (
        SELECT src, dst,
          ROW_NUMBER() OVER (PARTITION BY src
                             ORDER BY n_shared DESC, dst ASC) AS rk
        FROM directed
      ) WHERE rk <= 5
    ), edges AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM knn
    ), tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM edges e1
      JOIN edges e2 ON e1.b = e2.a
      WHERE EXISTS (SELECT 1 FROM edges e3
                    WHERE e3.a = e1.a AND e3.b = e2.b)
    )
    SELECT v AS s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT UNNEST([a, b, c]) AS v FROM tri)
    GROUP BY v
    """,
)
def supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the supplier similarity graph — the
    clustering-coefficient primitive (community cores, link spam, dense
    near-dup neighborhoods), run on a kNN-SPARSIFIED graph exactly as a
    production similarity-graph pipeline would.

    Pipeline: distinct bipartite edge list → co-customer pair weights
    (bounded per-customer fan-out) → per-node top-5 strongest neighbors
    (partitioned rank window — the kNN graph; never a global edge sort)
    → canonical a<b edges → one wedge join (e1.b = e2.a, so a<b<c by
    construction) + one left-semi close-the-triangle join — each
    triangle found exactly once, the degree-ordered orientation that
    keeps wedge counts near-linear on skewed graphs. Per-vertex counts
    unfold from the triangle list with explode. All integers.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    e = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    a, b = e.alias("a"), e.alias("b")
    shared = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    directed = shared.select(
        F.col("s1").alias("src"), F.col("s2").alias("dst"), "n_shared"
    ).unionByName(
        shared.select(
            F.col("s2").alias("src"), F.col("s1").alias("dst"), "n_shared"
        )
    )
    wk = W.partitionBy("src").orderBy(F.desc("n_shared"), F.asc("dst"))
    knn = (
        directed.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 5)
        .select("src", "dst")
    )
    edges = knn.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    wedges = e1.join(e2, F.col("e1.b") == F.col("e2.a")).select(
        F.col("e1.a").alias("a"),
        F.col("e1.b").alias("b"),
        F.col("e2.b").alias("c"),
    )
    tri = wedges.join(
        edges.select(F.col("a"), F.col("b").alias("c")),
        ["a", "c"],
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("s_suppkey"))
        .groupBy("s_suppkey")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


@register(
    "multimodal_audio_vad",
    oracle="""
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx FROM documents
    ), b AS (
      SELECT doc_id, i,
             CAST(('0x' || substr(hx, 2 * i - 1, 2)) AS INT) - 128 AS s
      FROM h, UNNEST(generate_series(1, length(hx) // 2)) AS t(i)
    ), f AS (
      SELECT doc_id, CAST((i - 1) // 64 AS BIGINT) AS widx,
             CAST(SUM(s * s) AS BIGINT) AS energy
      FROM b GROUP BY 1, 2
    ), g AS (
      SELECT doc_id, widx, energy,
        CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_f,
        CAST(SUM(energy) OVER (PARTITION BY doc_id) AS BIGINT) AS tot_e
      FROM f
    ), act AS (
      SELECT doc_id, widx, energy,
        widx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY widx)
          AS island
      FROM g WHERE energy * n_f > tot_e
    )
    SELECT doc_id,
      CAST(MIN(widx) AS BIGINT) AS seg_start,
      CAST(MAX(widx) AS BIGINT) AS seg_end,
      CAST(COUNT(*) AS BIGINT) AS n_frames,
      CAST(SUM(energy) AS BIGINT) AS seg_energy
    FROM act GROUP BY doc_id, island
    """,
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-style segmentation over the audio feature frames:
    frames whose energy exceeds the per-document mean are 'active', and
    consecutive active frames coalesce into segments (gaps-and-islands
    on the frame index) — the 1→N featurizer composed with run-length
    segmentation, i.e. how a real pipeline cuts speech/music regions
    before the expensive model.

    The activity threshold is the per-doc mean compared by integer
    cross-multiplication (energy·n_frames > total_energy) — no
    division, exact in both engines. Frames flow from the Arrow-batched
    mapInPandas fan-out (operators/multimodal.py); everything after is
    doc_id-partitioned windows + one aggregate on that same
    partitioning. Every output column is an exact BIGINT.
    """
    from ..operators.multimodal import (
        attach_fake_payload,
        extract_audio_features,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fr = extract_audio_features(attach_fake_payload(d), window=64).select(
        "doc_id", F.col("window_idx").cast("bigint").alias("widx"), "energy"
    )
    wd = W.partitionBy("doc_id")
    g = fr.select(
        "doc_id",
        "widx",
        "energy",
        F.count("*").over(wd).cast("bigint").alias("n_f"),
        F.sum("energy").over(wd).cast("bigint").alias("tot_e"),
    )
    act = g.filter(F.col("energy") * F.col("n_f") > F.col("tot_e"))
    wi = W.partitionBy("doc_id").orderBy("widx")
    isl = act.withColumn(
        "island", F.col("widx") - F.row_number().over(wi)
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("widx").cast("bigint").alias("seg_start"),
        F.max("widx").cast("bigint").alias("seg_end"),
        F.count("*").cast("bigint").alias("n_frames"),
        F.sum("energy").cast("bigint").alias("seg_energy"),
    ).drop("island")


@register(
    "max_concurrent_sessions",
    oracle="""
    WITH iv AS (
      SELECT ts AS s, ts + INTERVAL 5 MINUTE AS e FROM events
    ), pieces AS (
      SELECT date_trunc('day', s) AS d, s AS t0,
             LEAST(e, date_trunc('day', s) + INTERVAL 1 DAY) AS t1
      FROM iv
      UNION ALL
      SELECT date_trunc('day', e) AS d,
             date_trunc('day', s) + INTERVAL 1 DAY AS t0, e
      FROM iv
      WHERE e > date_trunc('day', s) + INTERVAL 1 DAY
    ), pts AS (
      SELECT d, t0 AS t, 1 AS delta FROM pieces
      UNION ALL
      SELECT d, t1 AS t, -1 AS delta FROM pieces
    ), run AS (
      SELECT d, SUM(delta) OVER (PARTITION BY d ORDER BY t, delta
                                 ROWS UNBOUNDED PRECEDING) AS conc
      FROM pts
    )
    SELECT STRFTIME(d, '%Y-%m-%d') AS day_s,
           CAST(MAX(conc) AS BIGINT) AS max_concurrent
    FROM run GROUP BY d
    """,
)
def max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day (sweep line): every event opens a 5-min
    session interval; +1/-1 boundary points, running sum, daily max —
    'how many sessions were live at once', capacity planning's first
    question.

    A naive sweep needs ONE global time order (single-partition at
    100 TB); instead intervals are clipped at day boundaries (a 5-min
    interval crosses at most one midnight, so each yields ≤2 pieces)
    and each day sweeps independently — partition-parallel with
    per-partition state bounded by a day's traffic. Pieces and ±1
    points unfold with explode inside one lineage (one events scan; the
    UNION-ALL oracle form would scan four times). Half-open [s, e)
    semantics: at equal timestamps the -1 sorts first, so
    back-to-back sessions never double-count. All-integer arithmetic;
    the daily MAX of prefix sums is invariant to peer order within
    equal (t, delta) groups, so the result is engine-deterministic.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
    )
    day_s = F.date_trunc("day", F.col("s"))
    next_mid = day_s + F.expr("INTERVAL 1 DAY")
    pieces_arr = F.filter(
        F.array(
            F.struct(
                day_s.alias("d"),
                F.col("s").alias("t0"),
                F.least(F.col("e"), next_mid).alias("t1"),
            ),
            F.when(
                F.col("e") > next_mid,
                F.struct(
                    F.date_trunc("day", F.col("e")).alias("d"),
                    next_mid.alias("t0"),
                    F.col("e").alias("t1"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    pieces = ev.select(F.explode(pieces_arr).alias("p")).select("p.*")
    pts = pieces.select(
        "d",
        F.explode(
            F.array(
                F.struct(F.col("t0").alias("t"), F.lit(1).alias("delta")),
                F.struct(F.col("t1").alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("q"),
    ).select("d", "q.t", "q.delta")
    w = (
        W.partitionBy("d")
        .orderBy("t", "delta")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    run = pts.select("d", F.sum("delta").over(w).alias("conc"))
    return run.groupBy(
        F.date_format("d", "yyyy-MM-dd").alias("day_s")
    ).agg(F.max("conc").cast("bigint").alias("max_concurrent"))


@register(
    "rolling_median_price",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey,
        CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_custkey % 20 = 0
    ), r AS (
      SELECT o_custkey, o_orderkey, cents,
        list_sort(list(cents) OVER (
          PARTITION BY o_custkey ORDER BY o_orderkey
          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) AS lastk
      FROM o
    )
    SELECT o_custkey, o_orderkey,
      CAST(len(lastk) AS BIGINT) AS n_window,
      CAST(lastk[(len(lastk) + 1) // 2] AS BIGINT) AS med_cents
    FROM r
    """,
)
def rolling_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-10-order EXACT rolling median per customer — the robust
    rolling feature (median resists the outliers that poison a rolling
    mean), computed by collecting the bounded window into an array and
    sorting it.

    Exactness over approximation is affordable precisely BECAUSE the
    frame is bounded (10 rows): collect_list over a ROWS frame + one
    array_sort per row is O(k log k) work on k=10 elements, no UDF, no
    sketch. Lower-median convention ((n+1)//2, 1-based) keeps every
    value an exact integer cent — no interpolation float. One customer
    shuffle; the customer sample bounds compare size. At 100 TB the
    same plan holds: per-row state is the k-element array, never the
    history.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 20 == 0
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(-9, 0)
    )
    r = o.select(
        "o_custkey",
        "o_orderkey",
        F.array_sort(F.collect_list(cents).over(w)).alias("lastk"),
    )
    n = F.size("lastk")
    return r.select(
        "o_custkey",
        "o_orderkey",
        n.cast("bigint").alias("n_window"),
        F.element_at("lastk", ((n + 1) / 2).cast("int"))
        .cast("bigint")
        .alias("med_cents"),
    )


@register(
    "decayed_engagement_score",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS tmax FROM events),
    t AS (
      SELECT user_id,
        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
        date_diff('day', CAST(ts AS DATE), CAST(tmax AS DATE)) AS age_d
      FROM events CROSS JOIN mx
    )
    SELECT user_id,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(CAST(FLOOR(cents * power(2.0, -LEAST(age_d, 60)) * 1e4
                          + 0.5) AS BIGINT)) AS BIGINT) AS score_grid
    FROM t GROUP BY user_id
    """,
)
def decayed_engagement_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed engagement score per user: each event
    contributes value·2^(-age_days) with a 1-day half-life unit — the
    recency-weighted scoring behind ranking feeds and churn models.

    Cross-engine float safety: 2^(-k) for integer k is EXACT in IEEE
    doubles, cents·2^(-k) is one exact-input multiply rounded
    identically in both engines, and each term is floor-quantized onto
    a 1e-4 grid BEFORE the sum — so the aggregate is pure BIGINT
    addition, immune to reduction order (a naive SUM of decayed doubles
    would drift in the last ulp). Ages clamp at 60 half-lives (terms
    vanish on the grid anyway) to keep power() in a well-conditioned
    range. The reference anchor (max ts) is a 1-row broadcast, same
    shape as cooccurrence_pmi's n_users.
    """
    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("tmax"))
    t = e.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias(
            "cents"
        ),
        F.datediff(F.col("tmax").cast("date"), F.col("ts").cast("date")).alias(
            "age_d"
        ),
    )
    term = F.floor(
        F.col("cents")
        * F.pow(F.lit(2.0), -F.least(F.col("age_d"), F.lit(60)))
        * F.lit(1e4)
        + F.lit(0.5)
    ).cast("bigint")
    return t.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(term).cast("bigint").alias("score_grid"),
    )


@register(
    "tfidf_doc_similarity",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY term
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
    w AS (
      SELECT tf.doc_id, tf.term,
        tf.tf * CAST(FLOOR(ln(CAST(n.nd AS DOUBLE) / dfreq.df) * 1e4)
                     AS BIGINT) AS wq
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
      WHERE dfreq.df <= 100
    ), norm2 AS (
      SELECT doc_id, CAST(SUM(wq * wq) AS BIGINT) AS n2
      FROM w GROUP BY doc_id
    ), dot AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(a.wq * b.wq) AS BIGINT) AS d
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
      ROUND(d / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))),
            4) + 0.0 AS cos_sim
    FROM dot
    JOIN norm2 x ON doc_a = x.doc_id
    JOIN norm2 y ON doc_b = y.doc_id
    WHERE d / (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))
          >= 0.3
    """,
)
def tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE pairwise document cosine over tf-idf weights — the
    inverted-index complement to the dense embedding similarity family:
    candidate pairs come from shared TERMS (posting-list join), so two
    documents are only ever compared if they share vocabulary.

    Determinism architecture: ln(N/df) floor-quantizes onto a 1e-4
    BIGINT grid per TERM (one ln per vocabulary entry, not per pair);
    weights tf·lq, norms Σwq², and dots Σwq_a·wq_b are then pure BIGINT
    arithmetic — reduction-order-immune — and the final cosine is
    sqrt/mult/div of identical doubles (sqrt is correctly rounded in
    IEEE 754). The df ≤ 100 cap bounds hot-term posting lists — the
    same f² guard as the shingle joins; at 100 TB it is the difference
    between |pairs sharing a rare term| and |corpus|². One term-keyed
    shuffle generates candidates; norms are doc-keyed aggregates
    joined back on the pair side.
    """
    from ..operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    dfreq = tok.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    n = d.agg(F.count("*").cast("bigint").alias("nd"))
    lq = F.floor(
        F.log(F.col("nd").cast("double") / F.col("df")) * F.lit(1e4)
    ).cast("bigint")
    w = (
        tf.join(dfreq.filter(F.col("df") <= 100), "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", (F.col("tf") * lq).alias("wq"))
    )
    norm2 = w.groupBy("doc_id").agg(
        F.sum(F.col("wq") * F.col("wq")).cast("bigint").alias("n2")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("wq").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("wq").alias("wb"))
    dot = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("bigint").alias("d"))
    )
    cos = F.col("d") / (
        F.sqrt(F.col("n2_a").cast("double"))
        * F.sqrt(F.col("n2_b").cast("double"))
    )
    return (
        dot.join(
            norm2.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2_a")),
            "doc_a",
        )
        .join(
            norm2.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2_b")),
            "doc_b",
        )
        .filter(cos >= 0.3)
        .select(
            "doc_a", "doc_b", (F.round(cos, 4) + F.lit(0.0)).alias("cos_sim")
        )
    )


@register(
    "weighted_median_price",
    oracle="""
    WITH t AS (
      SELECT l_returnflag,
        CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
        CAST(l_quantity AS BIGINT) AS wt,
        l_orderkey, l_linenumber
      FROM lineitem
    ), c AS (
      SELECT l_returnflag, cents, wt,
        SUM(wt) OVER (PARTITION BY l_returnflag
                      ORDER BY cents, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS cum,
        SUM(wt) OVER (PARTITION BY l_returnflag) AS total
      FROM t
    )
    SELECT l_returnflag,
      CAST(MIN(cents) AS BIGINT) AS wmedian_cents,
      CAST(MIN(total) AS BIGINT) AS total_weight
    FROM c WHERE cum * 2 >= total
    GROUP BY l_returnflag
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median price per return flag (weights = quantities):
    the first price at which cumulative weight crosses half the total —
    'the price of the median UNIT sold', which an unweighted median of
    line items gets wrong whenever quantities correlate with price.

    All-integer: prices quantized to cents, weights exact BIGINTs, the
    crossing test is cum·2 ≥ total (no division), and the
    (cents, orderkey, linenumber) total order pins cumulative sums
    deterministically. One shuffle on the group key; the running sum
    and the final aggregate share it. At 100 TB the per-key sort is the
    cost — for heavy groups the two-pass threshold refinement
    (pareto_revenue_share's approach) is the documented upgrade.
    """
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    wc = (
        W.partitionBy("l_returnflag")
        .orderBy("cents", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wt_all = W.partitionBy("l_returnflag")
    c = t.select(
        "l_returnflag",
        "cents",
        F.sum("wt").over(wc).alias("cum"),
        F.sum("wt").over(wt_all).alias("total"),
    )
    return (
        c.filter(F.col("cum") * 2 >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(
            F.min("cents").cast("bigint").alias("wmedian_cents"),
            F.min("total").cast("bigint").alias("total_weight"),
        )
    )


@register(
    "part_hierarchy_rollup",
    oracle="""
    WITH anc AS (
      SELECT CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS cents,
        UNNEST(list_transform(range(0, 8),
               i -> CAST(FLOOR(p_partkey / power(10, i)) AS BIGINT)))
          AS ancestor
      FROM part
    )
    SELECT ancestor,
      CAST(COUNT(*) AS BIGINT) AS n_desc,
      CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM anc WHERE ancestor > 0
    GROUP BY ancestor
    """,
)
def part_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (transitive) rollup: every part's retail price is
    aggregated into ALL its ancestors in a derived decimal-digit tree
    (parent = key/10) — the BOM/org-chart/category-tree aggregation
    pattern.

    The classic implementations iterate (one join per level) or
    recurse (CTE); for a FIXED-depth hierarchy the Spark-native answer
    is neither: each row explodes its own ancestor PATH as an array
    projection (8 integer divisions — pure codegen, no join, no
    iteration), and one groupBy rolls every level up simultaneously.
    The shuffle carries depth× the input rows but never joins; at
    100 TB that is strictly cheaper than depth sequential self-joins
    and has no iteration barrier. Integer-exact: floor(k/10^i) cannot
    cross an integer boundary by FP error (fraction grid is 10^-i,
    double error ~1e-11), and all aggregates are BIGINT cents.
    """
    p = load_table(spark, sf_dir, "part")
    cents = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("bigint")
    ancestors = F.array(
        *[
            F.floor(F.col("p_partkey") / F.lit(float(10**i))).cast("bigint")
            for i in range(8)
        ]
    )
    anc = p.select(
        cents.alias("cents"), F.explode(ancestors).alias("ancestor")
    ).filter(F.col("ancestor") > 0)
    return anc.groupBy("ancestor").agg(
        F.count("*").cast("bigint").alias("n_desc"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


_INCR_JACCARD_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM tok WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(inter * 1.0 / (x.n + y.n - inter), 4) AS jaccard
    FROM pairs p
    JOIN sizes x ON p.doc_a = x.doc_id
    JOIN sizes y ON p.doc_b = y.doc_id
    WHERE inter * 1.0 / (x.n + y.n - inter) >= 0.8
      AND ((doc_a < 250) <> (doc_b < 250))
    """


@register("dedup_incremental_lsh", oracle=_INCR_JACCARD_ORACLE)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new-batch vs existing-corpus) MinHash-LSH dedup —
    the daily-ingest operating mode: docs with id >= 250 play today's
    batch, the rest the standing corpus; only cross-slice band-bucket
    collisions generate candidates (no old×old re-verification). Same
    exact-Jaccard contract and miss probability (~1e-7 at 0.8) as
    dedup_minhash_lsh, so the oracle is the exact cross-slice pair set.
    See operators/dedup.py::minhash_lsh_pairs_incremental.
    """
    d = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs_incremental(
        d, F.col("doc_id") >= 250, threshold=0.8
    )


@register(
    "multimodal_image_resize",
    oracle="""
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             CAST(length(hex(encode(text))) / 2 AS INT) AS n
      FROM documents
    ), s AS (
      SELECT doc_id, hx, n,
             GREATEST(1, CAST(CEIL(n / 256.0) AS INT)) AS stride
      FROM h
    ), o AS (
      SELECT doc_id, n, stride,
        array_to_string(list_transform(
          range(0, CAST(CEIL(n * 1.0 / stride) AS BIGINT)),
          i -> substr(hx, CAST(i * stride * 2 + 1 AS INT), 2)), '') AS ohx
      FROM s
    )
    SELECT doc_id, n AS n_bytes, stride,
      CAST(length(ohx) / 2 AS INT) AS out_n_bytes,
      CAST(('0x' || substr(md5(ohx), 1, 15)) AS BIGINT) AS out_checksum
    FROM o
    """,
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-budget 'resize' over the binary payload column — the
    thumbnailer plumbing shape (binary→binary mapInPandas), with a
    deterministic stride-sampling kernel so every output byte stream's
    checksum is value-checked by the oracle. See
    operators/multimodal.py::resize_payloads for the real-codec
    plug-in point."""
    from ..operators.multimodal import attach_fake_payload, resize_payloads

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return resize_payloads(attach_fake_payload(d), max_bytes=256)


@register(
    "orders_backlog_daily",
    oracle="""
    WITH life AS (
      SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS d0,
             CAST(MAX(l.l_shipdate) AS DATE) + 1 AS d1
      FROM orders o JOIN lineitem l ON o_orderkey = l_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ), deltas AS (
      SELECT d, CAST(SUM(delta) AS BIGINT) AS net FROM (
        SELECT d0 AS d, 1 AS delta FROM life
        UNION ALL
        SELECT d1 AS d, -1 AS delta FROM life
      ) GROUP BY d
    )
    SELECT STRFTIME(d, '%Y-%m-%d') AS day_s, net,
      CAST(SUM(net) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
        AS open_orders
    FROM deltas
    """,
)
def orders_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: +1 when an order is placed, -1 the day
    after its last line ships; the running balance is 'how many orders
    are open right now' through history — the warehouse running-balance
    shape (inventory levels, open tickets, WIP).

    Scale shape: the fact join reduces each order to ONE lifetime row
    (map-side groupBy on the join key), lifetimes explode to ±1 deltas
    INSIDE one lineage, and daily nets aggregate BEFORE the cumulative
    sum — so the only ordered window runs over the |days| grid
    (thousands of rows at any data scale), not the fact table. That
    tiny single-partition cum-sum is the same accepted pattern as the
    yoy/incremental-agg rollups. All-integer arithmetic.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    life = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.col("o_orderdate").cast("date").alias("d0"),
            F.date_add(F.col("last_ship").cast("date"), 1).alias("d1"),
        )
    )
    deltas = (
        life.select(
            F.explode(
                F.array(
                    F.struct(F.col("d0").alias("d"), F.lit(1).alias("delta")),
                    F.struct(F.col("d1").alias("d"), F.lit(-1).alias("delta")),
                )
            ).alias("e")
        )
        .select("e.d", "e.delta")
        .groupBy("d")
        .agg(F.sum("delta").cast("bigint").alias("net"))
    )
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    return deltas.select(
        F.date_format("d", "yyyy-MM-dd").alias("day_s"),
        "net",
        F.sum("net").over(w).cast("bigint").alias("open_orders"),
    )


@register(
    "embedding_label_drift",
    oracle="""
    WITH q AS (
      SELECT label, t.i AS dim,
        CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) * 1e6) AS BIGINT) AS xq
      FROM embeddings,
        UNNEST(generate_series(1, len(embedding))) AS t(i)
    ), lab AS (
      SELECT label, dim, SUM(xq) AS s, COUNT(*) AS c
      FROM q GROUP BY label, dim
    ), gl AS (
      SELECT dim, SUM(xq) AS gs, COUNT(*) AS gc FROM q GROUP BY dim
    ), diffs AS (
      SELECT lab.label, lab.dim,
        CAST(FLOOR(
          (CAST(lab.s AS DOUBLE) / lab.c - CAST(gl.gs AS DOUBLE) / gl.gc)
          * (CAST(lab.s AS DOUBLE) / lab.c - CAST(gl.gs AS DOUBLE) / gl.gc)
          + 0.5) AS BIGINT) AS d2q
      FROM lab JOIN gl USING (dim)
    )
    SELECT label, CAST(SUM(d2q) AS BIGINT) AS drift2_grid,
           CAST(MAX(d2q) AS BIGINT) AS worst_dim_d2
    FROM diffs GROUP BY label
    """,
)
def embedding_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid drift from the corpus centroid —
    the embedding-space monitor a training pipeline tracks per ingest
    batch (is cluster X moving away from the population?).

    Determinism: every component floor-quantizes onto a 1e-6 integer grid
    BEFORE averaging (exact BIGINT sums; the per-dim centroid is then
    ONE double division of exact integers), per-dim squared diffs are
    single identical double ops floor-quantized back to BIGINT, and the
    64-term reduction is integer addition. posexplode keeps dimension
    indices aligned with DuckDB's UNNEST WITH ORDINALITY. Scale: the
    shuffle carries (label, dim) partial sums — map-side combined, so
    volume is |labels|·|dims|, independent of row count.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "label", F.posexplode(F.col("embedding")).alias("dim0", "x")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * F.lit(1e6)).cast("bigint").alias(
            "xq"
        ),
    )
    lab = q.groupBy("label", "dim").agg(
        F.sum("xq").alias("s"), F.count("*").alias("c")
    )
    glob = q.groupBy("dim").agg(
        F.sum("xq").alias("gs"), F.count("*").alias("gc")
    )
    diff = (
        F.col("s").cast("double") / F.col("c")
        - F.col("gs").cast("double") / F.col("gc")
    )
    diffs = lab.join(glob, "dim").select(
        "label",
        F.floor(diff * diff + F.lit(0.5)).cast("bigint").alias("d2q"),
    )
    return diffs.groupBy("label").agg(
        F.sum("d2q").cast("bigint").alias("drift2_grid"),
        F.max("d2q").cast("bigint").alias("worst_dim_d2"),
    )
