"""Round-5 surface widening: token-entropy quality scoring, band-tuned
MinHash LSH, PQ asymmetric-distance top-k (the read side of IVF-PQ),
integer-exact per-group OLS trend, and monthly retention cohorts.

The reference delegates every read-side computation to Postgres SQL
(internal/db/db.go:112-124); these queries extend the engine's surface
with shapes a training-data / analytics user runs downstream, each a
single declarative DataFrame lineage with a DuckDB oracle.

Engine-stability rules follow queries/stats.py and round4.py: sums that
feed cross-engine doubles are EXACT integer sums (cents / epoch days),
every cross-engine double is either a single division of exact integers
or a short fixed-order float fold written identically in both engines,
and ROUND applies only to already-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..io.tables import load_table
from ..operators import dedup
from ..operators.similarity import _q6
from ..operators.text import tokens
from . import register
from .llm import _JACCARD_ORACLE


@register(
    "text_token_entropy",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    c AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    d AS (
      SELECT doc_id, SUM(c) AS n, COUNT(*) AS nd, SUM(c * log2(c)) AS slc
      FROM c GROUP BY 1
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(nd AS BIGINT) AS n_distinct,
           FLOOR((log2(n) - slc / n) * 1e6 + 0.5) / 1e6 + 0.0
             AS entropy_bits
    FROM d
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each document's token distribution —
    the classic repetition/diversity quality signal for corpus curation
    (low entropy = boilerplate or keyword stuffing; entropy close to
    log2(n_tokens) = no repetition).

    Scale: one explode + two hash aggregations, all JVM-side; the
    shuffle carries (doc_id, token) pairs then (doc_id) partials —
    linear, map-side-combinable, no skew beyond token counts per doc.
    Cross-engine parity: entropy = log2(n) - sum(c*log2(c))/n where c
    and n are exact integers; both engines evaluate log2 on identical
    integer inputs and the 1e-6 floor-quantize absorbs the unordered
    float-sum association difference.
    """
    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    agg = c.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("nd"),
        F.sum(F.col("c") * F.log2("c")).alias("slc"),
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("nd").cast("bigint").alias("n_distinct"),
        _q6(F.log2("n") - F.col("slc") / F.col("n")).alias("entropy_bits"),
    )


@register("dedup_lsh_tuned", oracle=_JACCARD_ORACLE)
def dedup_lsh_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH with band_params-derived banding instead of the fixed
    32x4 split — the tuned production form.

    band_params(0.5) puts the S-curve midpoint near Jaccard 0.5, so
    recall at the 0.8 verify threshold is ~1-(1-0.8^r)^b ≈ 0.999+: the
    output equals the exact all-pairs oracle (same contract and oracle
    as dedup_minhash_lsh, which uses the fixed split). Demonstrates the
    threshold→(bands, rows) derivation end-to-end on real data.
    """
    b, _r = dedup.band_params(0.5, num_hashes=dedup.NUM_HASHES)
    d = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        d, threshold=0.8, num_hashes=dedup.NUM_HASHES, bands=b
    )


@register(
    "ann_cosine_pq_adc_knn",
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
    ),
    codes AS (SELECT vec_id, si, cid AS code FROM a WHERE rk = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    qs AS (SELECT query_id, qv, s.si FROM q
           CROSS JOIN (SELECT UNNEST(range(8)) AS si) s),
    qd AS (
      SELECT query_id, si, cid,
        (qv[si*8+1]-cv[si*8+1])*(qv[si*8+1]-cv[si*8+1])
        + (qv[si*8+2]-cv[si*8+2])*(qv[si*8+2]-cv[si*8+2])
        + (qv[si*8+3]-cv[si*8+3])*(qv[si*8+3]-cv[si*8+3])
        + (qv[si*8+4]-cv[si*8+4])*(qv[si*8+4]-cv[si*8+4])
        + (qv[si*8+5]-cv[si*8+5])*(qv[si*8+5]-cv[si*8+5])
        + (qv[si*8+6]-cv[si*8+6])*(qv[si*8+6]-cv[si*8+6])
        + (qv[si*8+7]-cv[si*8+7])*(qv[si*8+7]-cv[si*8+7])
        + (qv[si*8+8]-cv[si*8+8])*(qv[si*8+8]-cv[si*8+8]) AS d2
      FROM qs CROSS JOIN cent
    ),
    adc AS (
      SELECT qd.query_id, c.vec_id AS neighbor_id,
        SUM(CASE WHEN qd.si=0 THEN qd.d2 ELSE 0 END)
        + SUM(CASE WHEN qd.si=1 THEN qd.d2 ELSE 0 END)
        + SUM(CASE WHEN qd.si=2 THEN qd.d2 ELSE 0 END)
        + SUM(CASE WHEN qd.si=3 THEN qd.d2 ELSE 0 END)
        + SUM(CASE WHEN qd.si=4 THEN qd.d2 ELSE 0 END)
        + SUM(CASE WHEN qd.si=5 THEN qd.d2 ELSE 0 END)
        + SUM(CASE WHEN qd.si=6 THEN qd.d2 ELSE 0 END)
        + SUM(CASE WHEN qd.si=7 THEN qd.d2 ELSE 0 END) AS adc
      FROM codes c
      JOIN qd ON qd.si = c.si AND qd.cid = c.code
      WHERE c.vec_id <> qd.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id,
           FLOOR(adc * 1e6 + 0.5) / 1e6 + 0.0 AS adc_dist,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT query_id, neighbor_id, adc,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY adc, neighbor_id) AS rk
      FROM adc
    ) WHERE rk <= 5
    """,
)
def ann_cosine_pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k — the READ side of an IVF-PQ index,
    completing embedding_pq_codes (the write side): the corpus is
    represented only by its 8 one-byte codes, and each query ranks
    neighbors by the sum of exact query-subvector → sub-centroid
    distances (ADC).

    Scale: the corpus side carries codes, not vectors — 8 bytes/vector
    instead of 512, which is the entire point of PQ at 10^9+ vectors;
    the query side's distance table (16x8 doubles per query) folds into
    the broadcast. Everything is codegen projections + one top-k window
    over |queries|x|corpus| scored pairs (compose with the IVF list
    restriction of ivf_knn to bound that product at true scale).

    Cross-engine parity: each d2 term uses the identical operand order
    as the oracle (proved bit-stable by embedding_pq_codes); the ADC sum
    is a FIXED-ORDER 8-term left fold on both sides (Spark: aggregate()
    over the si-ordered codes array; SQL: s0+s1+...+s7 over per-si
    pivoted sums), so doubles — and therefore the rank — agree exactly.
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

    def best_code(vec: Column, si: int) -> Column:
        sub_v = F.slice(vec, si * 8 + 1, 8)
        return F.array_min(
            F.transform(
                F.col("cb"),
                lambda c: F.struct(
                    dist2(sub_v, F.slice(c["cv"], si * 8 + 1, 8)).alias("d"),
                    c["cid"].alias("cid"),
                ),
            )
        )["cid"]

    # corpus → si-ordered code array (the 8-byte representation)
    coded = (
        v.crossJoin(F.broadcast(cb))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.array(
                *[best_code(F.col("v"), si) for si in range(8)]
            ).alias("codes"),
        )
    )
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # ADC: fold the si-ordered code array; each step adds the exact
    # query-subvector→assigned-sub-centroid distance
    pair = coded.join(F.broadcast(q.crossJoin(F.broadcast(cb))), how="cross")

    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(7)),
            lambda code, si: F.struct(code.alias("code"), si.alias("si")),
        ),
        F.lit(0.0),
        lambda acc, z: acc
        + dist2(
            F.slice(F.col("qv"), z["si"] * 8 + 1, 8),
            F.slice(
                F.filter(F.col("cb"), lambda c: c["cid"] == z["code"])[0][
                    "cv"
                ],
                z["si"] * 8 + 1,
                8,
            ),
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.col("adc"), F.col("neighbor_id"))
    return (
        pair.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc", adc)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            _q6(F.col("adc")).alias("adc_dist"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


@register(
    "price_trend_by_priority",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority,
             date_diff('day', DATE '1992-01-01', o_orderdate) AS x,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
      FROM orders
    ),
    s AS (
      SELECT o_orderpriority,
             COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM b GROUP BY 1
    )
    SELECT o_orderpriority,
           CAST(n AS BIGINT) AS n_orders,
           FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) * 1e6 + 0.5)
             / 1e6 + 0.0 AS slope_cents_per_day,
           FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)) * 1e6 + 0.5)
             / 1e6 + 0.0 AS r2
    FROM s
    """,
)
def price_trend_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend (slope + R²) of order value over time —
    closed-form regression as a pure aggregation, the distributed way to
    fit millions of tiny per-group models (one shuffle, no iteration,
    no ML library).

    Integer-exact parity: x = epoch-day, y = cents, and all five
    moment sums are EXACT integer sums (decimal(38,0) on Spark,
    HUGEINT in DuckDB — n*sxy reaches ~3e19, past int64). The only
    float ops are the final IEEE divisions/multiplications of integers
    both engines converted identically, so slope and R² agree
    bit-for-bit before ROUND. At 100 TB this is one map-side-combined
    aggregate per group — the same shape as q1.
    """
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        "o_orderpriority",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("bigint")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    dec = "decimal(38,0)"
    s = b.groupBy("o_orderpriority").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x").cast(dec) * F.col("x"))).alias("sxx"),
        F.sum((F.col("y").cast(dec) * F.col("y"))).alias("syy"),
        F.sum((F.col("x").cast(dec) * F.col("y"))).alias("sxy"),
    )
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return s.select(
        "o_orderpriority",
        F.col("n").cast("bigint").alias("n_orders"),
        _q6(cov / varx).alias("slope_cents_per_day"),
        _q6(cov * cov / (varx * vary)).alias("r2"),
    )


@register(
    "retention_cohorts_monthly",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym
      FROM orders
    ),
    first AS (SELECT o_custkey, MIN(ym) AS cohort_ym FROM m GROUP BY 1),
    sizes AS (
      SELECT cohort_ym, COUNT(*) AS cohort_size FROM first GROUP BY 1
    ),
    act AS (
      SELECT f.cohort_ym, m.ym - f.cohort_ym AS month_offset,
             COUNT(DISTINCT m.o_custkey) AS n_active
      FROM m JOIN first f ON m.o_custkey = f.o_custkey
      GROUP BY 1, 2
    )
    SELECT CAST(a.cohort_ym // 12 AS BIGINT) AS cohort_year,
           CAST(a.cohort_ym % 12 + 1 AS BIGINT) AS cohort_month,
           CAST(a.month_offset AS BIGINT) AS month_offset,
           CAST(a.n_active AS BIGINT) AS n_active,
           CAST((a.n_active * 1000000) // s.cohort_size AS BIGINT)
             AS retention_ppm
    FROM act a JOIN sizes s USING (cohort_ym)
    WHERE a.month_offset <= 12
    """,
)
def retention_cohorts_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly retention-cohort triangle over ORDERS (the weekly
    events-based variant is queries/analytics.py::retention_cohorts):
    customers grouped by first-purchase month, activity tracked for 12
    month-offsets, retention as exact parts-per-million (integer
    division — no float crosses engines).

    Scale: month index is pure integer arithmetic (year*12+month), the
    first-purchase frame is one aggregate re-joined on the customer key
    (same shuffle key as the activity aggregate, so AQE coalesces), and
    COUNT(DISTINCT custkey) per (cohort, offset) is the only expensive
    reduction — bounded by customers, not orders. The 12-offset cap
    keeps the output a fixed-size triangle at any scale.
    """
    o = load_table(spark, sf_dir, "orders")
    m = o.select(
        "o_custkey",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).alias("ym"),
    )
    first = m.groupBy("o_custkey").agg(F.min("ym").alias("cohort_ym"))
    sizes = first.groupBy("cohort_ym").agg(
        F.count("*").alias("cohort_size")
    )
    act = (
        m.join(first, "o_custkey")
        .groupBy(
            "cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("month_offset")
        )
        .agg(F.countDistinct("o_custkey").alias("n_active"))
    )
    return (
        act.join(sizes, "cohort_ym")
        .filter(F.col("month_offset") <= 12)
        .select(
            F.expr("cohort_ym div 12").cast("bigint").alias("cohort_year"),
            (F.col("cohort_ym") % 12 + 1).cast("bigint").alias("cohort_month"),
            F.col("month_offset").cast("bigint"),
            F.col("n_active").cast("bigint"),
            F.expr("n_active * 1000000 div cohort_size").alias(
                "retention_ppm"
            ),
        )
    )


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice_cents",
    "o_orderdate",
    "o_orderpriority",
]


@register(
    "schema_profile",
    oracle="""
    WITH b AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
             CAST(o_custkey AS VARCHAR) AS o_custkey,
             o_orderstatus,
             CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)
               AS o_totalprice_cents,
             STRFTIME(o_orderdate, '%Y-%m-%d') AS o_orderdate,
             o_orderpriority
      FROM orders
    )
    SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_orderkey) AS n_nulls,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           MIN(o_orderkey) AS min_s, MAX(o_orderkey) AS max_s FROM b
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey), MIN(o_custkey), MAX(o_custkey) FROM b
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus),
           MAX(o_orderstatus) FROM b
    UNION ALL
    SELECT 'o_totalprice_cents', COUNT(*),
           COUNT(*) - COUNT(o_totalprice_cents),
           COUNT(DISTINCT o_totalprice_cents), MIN(o_totalprice_cents),
           MAX(o_totalprice_cents) FROM b
    UNION ALL
    SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
           COUNT(DISTINCT o_orderdate), MIN(o_orderdate),
           MAX(o_orderdate) FROM b
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority), MIN(o_orderpriority),
           MAX(o_orderpriority) FROM b
    """,
)
def schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of orders (row count, null count,
    distinct count, lexicographic min/max) — the first query every
    pipeline runs against a new drop, emitted as one row per column.

    ONE aggregate over ONE scan computes every metric (the per-column
    stats unpivot driver-free via explode of a struct array); columns
    are stringified first so min/max are engine-stable lexicographic
    byte comparisons (numerics via exact bigint cents — no float
    formatting crosses engines). The multi-column COUNT(DISTINCT) makes
    Catalyst expand the input |profiled columns| times; at 100 TB swap
    in approx_count_distinct to collapse the expand back to a single
    pass (the approx_distinct_sketch pattern, bound-checked there).
    """
    from ..io.tables import spread_small_scan

    o = load_table(spark, sf_dir, "orders")
    # r17: six countDistinct arms expand the input 6x through one core
    # when the file is sub-split-size — spread it (size-gated; exact
    # aggregates only, so merge order cannot change a value)
    o = spread_small_scan(o, sf_dir, "orders")
    b = o.select(
        F.col("o_orderkey").cast("string").alias("o_orderkey"),
        F.col("o_custkey").cast("string").alias("o_custkey"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .cast("string")
        .alias("o_totalprice_cents"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        F.col("o_orderpriority"),
    )
    aggs = [F.count("*").alias("__n")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"__cnt_{c}"),
            F.countDistinct(c).alias(f"__nd_{c}"),
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
        ]
    one = b.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"__cnt_{c}")).alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_s"),
                F.col(f"__max_{c}").alias("max_s"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


@register(
    "leakage_safe_split",
    oracle=r"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM tok WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    praw AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT doc_a, doc_b FROM praw p
      JOIN sizes x ON p.doc_a = x.doc_id
      JOIN sizes y ON p.doc_b = y.doc_id
      WHERE inter * 1.0 / (x.n + y.n - inter) >= 0.8
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM jp
      UNION ALL SELECT doc_b, doc_a FROM jp
    ),
    cc(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, cc.label FROM edges e JOIN cc ON cc.id = e.dst
    ),
    clus AS (
      SELECT CAST(id AS BIGINT) AS doc_id,
             CAST(MIN(label) AS BIGINT) AS cluster_id
      FROM cc GROUP BY id
    ),
    m AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN clus c USING (doc_id)
    )
    SELECT doc_id, cluster_id,
      CASE
        WHEN CAST(('0x' || substr(md5('split=1:'
             || CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 100 < 80 THEN 'train'
        WHEN CAST(('0x' || substr(md5('split=1:'
             || CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 100 < 90 THEN 'val'
        ELSE 'test'
      END AS split
    FROM m
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster-aware train/val/test split: near-duplicate documents
    (exact-verified MinHash-LSH pairs at Jaccard 0.8, closed into
    connected components) are assigned to the SAME split by hashing the
    cluster representative instead of the doc id — the leakage guard a
    plain per-doc hash split lacks (a near-dup pair straddling
    train/test silently inflates eval).

    Composition of three verified operators on one lineage:
    minhash_lsh_pairs (candidates from band collisions only) →
    cluster_pairs (large-star/small-star components) → hash_split keyed
    on cluster_id (pure projection, stable under corpus growth: a new
    near-dup joins its cluster's existing split). Singleton docs are
    their own cluster via coalesce — no join blowup, the left join is
    against the pair-member subset only, which is dedup-output-sized,
    not corpus-sized.
    """
    from ..operators import curation

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.8)
    clusters = dedup.cluster_pairs(pairs.select("doc_a", "doc_b"))
    m = (
        d.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    )
    return curation.hash_split(m, "cluster_id").select(
        "doc_id", "cluster_id", "split"
    )


@register(
    "segment_ks_test",
    oracle="""
    WITH b AS (
      SELECT c.c_mktsegment AS seg,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    v AS (
      SELECT cents,
             SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS n1v,
             SUM(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS n2v
      FROM b GROUP BY cents
    ),
    c AS (
      SELECT cents,
             SUM(n1v) OVER (ORDER BY cents) AS c1,
             SUM(n2v) OVER (ORDER BY cents) AS c2
      FROM v
    ),
    t AS (SELECT SUM(n1v) AS n1, SUM(n2v) AS n2 FROM v)
    SELECT CAST(t.n1 AS BIGINT) AS n_building,
           CAST(t.n2 AS BIGINT) AS n_machinery,
           FLOOR(MAX(ABS(CAST(c.c1 AS DOUBLE) / t.n1
                         - CAST(c.c2 AS DOUBLE) / t.n2)) * 1e6 + 0.5)
             / 1e6 + 0.0 AS ks_d
    FROM c, t
    GROUP BY t.n1, t.n2
    """,
)
def segment_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between order-value
    distributions of two customer segments — the distribution-drift test
    that needs no binning choice (unlike PSI/KL, which the stats battery
    already has).

    KS is the distribution test that stays EXACT cross-engine: each
    empirical CDF value is one division of exact integer cumulative
    counts (cents grid), the sup is a max over identical doubles — no
    tie-averaged ranks (Mann-Whitney) or variance folds to reconcile.
    Scale: one broadcast dim join, one hash aggregate on the value grid,
    one ordered cumulative window over |distinct values| rows (already
    reduced — the window input is grid-sized, not fact-sized), one
    1-row max. The classic two-pass drift check at any corpus size.
    """
    o = load_table(spark, sf_dir, "orders")
    cseg = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("seg")
    )
    b = (
        o.join(F.broadcast(cseg), "o_custkey")
        .filter(F.col("seg").isin("BUILDING", "MACHINERY"))
        .select(
            "seg",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    v = b.groupBy("cents").agg(
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0)).alias("n1v"),
        F.sum(F.when(F.col("seg") == "MACHINERY", 1).otherwise(0)).alias("n2v"),
    )
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = v.select(
        F.sum("n1v").over(w).alias("c1"),
        F.sum("n2v").over(w).alias("c2"),
    )
    t = v.agg(
        F.sum("n1v").alias("n1"), F.sum("n2v").alias("n2")
    )
    return (
        c.crossJoin(F.broadcast(t))
        .groupBy("n1", "n2")
        .agg(
            _q6(
                F.max(
                    F.abs(
                        F.col("c1").cast("double") / F.col("n1")
                        - F.col("c2").cast("double") / F.col("n2")
                    )
                )
            ).alias("ks_d")
        )
        .select(
            F.col("n1").alias("n_building"),
            F.col("n2").alias("n_machinery"),
            "ks_d",
        )
    )


@register(
    "segment_mannwhitney_u",
    oracle="""
    WITH b AS (
      SELECT c.c_mktsegment AS seg,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    v AS (
      SELECT cents,
             SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS n1v,
             COUNT(*) AS cnt
      FROM b GROUP BY cents
    ),
    r AS (
      SELECT cents, n1v, cnt,
             COALESCE(SUM(cnt) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumbefore
      FROM v
    ),
    s AS (
      SELECT SUM(n1v) AS n1, SUM(cnt) - SUM(n1v) AS n2, SUM(cnt) AS n,
             SUM(n1v * (2 * cumbefore + cnt + 1)) AS r1_2x,
             SUM(cnt * cnt * cnt - cnt) AS tie3
      FROM r
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(r1_2x - n1 * (n1 + 1) AS DOUBLE) / 2 AS u1,
           FLOOR(
             (CAST(r1_2x - n1 * (n1 + 1) AS DOUBLE) / 2
              - CAST(n1 * n2 AS DOUBLE) / 2)
             / sqrt(CAST(n1 * n2 AS DOUBLE) / 12
                    * (CAST(n + 1 AS DOUBLE)
                       - CAST(tie3 AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))
             * 1e6 + 0.5) / 1e6 + 0.0 AS z
    FROM s
    """,
)
def segment_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test between two customer segments'
    order values — the nonparametric location test completing the stats
    battery's Welch t (parametric) and KS (distribution shape).

    Tie-averaged ranks are the usual cross-engine hazard (averages of
    integer positions are arbitrary rationals whose SUM is association-
    ordered); the doubled-rank identity removes it: 2*avg_rank of a
    tied value = 2*cum_before + cnt + 1 — an INTEGER — so the rank sum
    R1 and U1 = (R1_2x - n1(n1+1))/2 are exact integer arithmetic until
    one final division by 2 (an exact power of two). The tie-corrected
    normal z then applies identical IEEE ops to identical integers on
    both engines (no continuity correction, documented). Scale: same
    shape as segment_ks_test — broadcast dim join, value-grid aggregate,
    one grid-sized cumulative window, 1-row reduction; the doubled rank
    sum stays within int64 up to ~10^9 rows per cell (go decimal(38,0)
    past that, as price_trend_by_priority does).
    """
    o = load_table(spark, sf_dir, "orders")
    cseg = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("seg"),
    )
    b = (
        o.join(F.broadcast(cseg), "o_custkey")
        .filter(F.col("seg").isin("BUILDING", "MACHINERY"))
        .select(
            "seg",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    v = b.groupBy("cents").agg(
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0)).alias("n1v"),
        F.count("*").alias("cnt"),
    )
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
    r = v.select(
        "n1v",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cumbefore"),
    )
    s = r.agg(
        F.sum("n1v").alias("n1"),
        (F.sum("cnt") - F.sum("n1v")).alias("n2"),
        F.sum("cnt").alias("n"),
        F.sum(
            F.col("n1v") * (2 * F.col("cumbefore") + F.col("cnt") + 1)
        ).alias("r1_2x"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie3"),
    )
    u1 = (F.col("r1_2x") - F.col("n1") * (F.col("n1") + 1)).cast("double") / 2
    mu = (F.col("n1") * F.col("n2")).cast("double") / 2
    sigma = F.sqrt(
        (F.col("n1") * F.col("n2")).cast("double") / 12
        * (
            (F.col("n") + 1).cast("double")
            - F.col("tie3").cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
        )
    )
    return s.select(
        "n1",
        "n2",
        u1.alias("u1"),
        _q6((u1 - mu) / sigma).alias("z"),
    )


@register(
    "benford_leading_digit",
    oracle="""
    WITH b AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    d AS (
      SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             COUNT(*) AS n
      FROM b GROUP BY 1
    ),
    t AS (SELECT digit, n, SUM(n) OVER () AS total FROM d)
    SELECT digit, CAST(n AS BIGINT) AS n_orders,
           CAST((n * 1000000) // total AS BIGINT) AS observed_ppm,
           CAST(FLOOR(log10(CAST(digit + 1 AS DOUBLE)
                            / CAST(digit AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
             AS benford_ppm,
           CAST((n * 1000000) // total
                - FLOOR(log10(CAST(digit + 1 AS DOUBLE)
                              / CAST(digit AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
             AS deviation_ppm
    FROM t
    """,
)
def benford_leading_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law leading-digit audit of order values — the classic
    fabricated/synthetic-data screen: natural multiplicative amounts put
    digit d first with probability log10(1+1/d); a flat or spiked
    distribution flags generated or truncated data (this fixture's
    uniform prices fail loudly, which is the point of the audit).

    Engine stability: the leading digit comes from the DECIMAL STRING of
    exact integer cents (no float log on data values — scale-invariance
    under the x100 power-of-ten rescale is exact), observed shares are
    integer-division ppm, and the Benford expectation applies identical
    IEEE log10/floor to identical small-integer inputs on both engines.
    Scale: one hash aggregate to 9 rows, then a 9-row window — the
    total-sum window costs nothing because the aggregate already reduced.
    """
    o = load_table(spark, sf_dir, "orders")
    d = (
        o.select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
        )
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    t = d.select("digit", "n", F.sum("n").over(W.partitionBy()).alias("total"))
    benford = F.floor(
        F.log10(
            (F.col("digit") + 1).cast("double") / F.col("digit").cast("double")
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")
    observed = F.expr("n * 1000000 div total")
    return t.select(
        "digit",
        F.col("n").cast("bigint").alias("n_orders"),
        observed.alias("observed_ppm"),
        benford.alias("benford_ppm"),
        (observed - benford).cast("bigint").alias("deviation_ppm"),
    )


@register(
    "daily_revenue_acf",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS d,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ),
    lagd AS (
      SELECT k.k, y,
             lag(y, k.k) OVER (PARTITION BY k.k ORDER BY d) AS ylag
      FROM daily CROSS JOIN (SELECT UNNEST(range(1, 8)) AS k) k
    ),
    m AS (
      SELECT k, COUNT(*) AS n,
             SUM(CAST(ylag AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(ylag AS HUGEINT) * ylag) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(ylag AS HUGEINT) * y) AS sxy
      FROM lagd WHERE ylag IS NOT NULL GROUP BY 1
    )
    SELECT CAST(k AS BIGINT) AS lag_k, CAST(n AS BIGINT) AS n_pairs,
           FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 + 0.0 AS acf
    FROM m
    """,
)
def daily_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily-revenue series — the
    seasonality probe (a weekly cycle shows as a lag-7 peak) that gates
    forecasting-model choice, computed as pure aggregation.

    The series is first REDUCED to one exact bigint cents row per day, so
    the ordered lag window runs over |days| rows, not |orders| — at 100 TB
    the fact scan is one map-side-combinable aggregate and the window
    input stays a few thousand rows regardless of corpus size. Per lag k,
    Pearson r comes from the five moment sums in decimal(38,0)/HUGEINT
    (day revenue squared times |days| overflows int64), with the same
    single cast-to-double + IEEE divide/sqrt order on both engines.
    The 7 lag columns come from ONE window pass; pairs unfold array-
    locally (explode of a 7-struct array), not via 7 self-joins.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("y")
    )
    w = W.orderBy("d")
    lags = daily.select(
        "y", *[F.lag("y", k).over(w).alias(f"ylag{k}") for k in range(1, 8)]
    )
    pairs = (
        lags.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("k"),
                            F.col("y").alias("y"),
                            F.col(f"ylag{k}").alias("ylag"),
                        )
                        for k in range(1, 8)
                    ]
                )
            ).alias("p")
        )
        .select("p.*")
        .filter(F.col("ylag").isNotNull())
    )
    dec = "decimal(38,0)"
    m = pairs.groupBy("k").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("ylag").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("ylag").cast(dec) * F.col("ylag")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
        F.sum(F.col("ylag").cast(dec) * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        F.col("k").cast("bigint").alias("lag_k"),
        F.col("n").cast("bigint").alias("n_pairs"),
        # floor-quantized onto the 1e-6 grid (identical FLOOR fold on
        # both engines) instead of ROUND(double, 6) — engine rounding
        # of doubles is half-even-edge sensitive across builds
        (F.floor(num / F.sqrt(vx * vy) * F.lit(1e6) + F.lit(0.5))
         / F.lit(1e6) + F.lit(0.0)).alias("acf"),
    )


_FD_CANDIDATES = [
    ("o_orderkey", "o_custkey"),
    ("o_custkey", "o_orderstatus"),
    ("o_custkey", "o_orderpriority"),
    ("o_orderdate", "o_orderstatus"),
]


@register(
    "fd_check_orders",
    oracle="""
    SELECT 'o_orderkey->o_custkey' AS fd,
           COUNT(*) AS n_lhs,
           COUNT(*) FILTER (nd > 1) AS n_violating,
           MAX(nd) AS max_rhs_per_lhs,
           COUNT(*) FILTER (nd > 1) = 0 AS holds
    FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS nd
          FROM orders GROUP BY 1)
    UNION ALL
    SELECT 'o_custkey->o_orderstatus', COUNT(*),
           COUNT(*) FILTER (nd > 1), MAX(nd),
           COUNT(*) FILTER (nd > 1) = 0
    FROM (SELECT o_custkey, COUNT(DISTINCT o_orderstatus) AS nd
          FROM orders GROUP BY 1)
    UNION ALL
    SELECT 'o_custkey->o_orderpriority', COUNT(*),
           COUNT(*) FILTER (nd > 1), MAX(nd),
           COUNT(*) FILTER (nd > 1) = 0
    FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS nd
          FROM orders GROUP BY 1)
    UNION ALL
    SELECT 'o_orderdate->o_orderstatus', COUNT(*),
           COUNT(*) FILTER (nd > 1), MAX(nd),
           COUNT(*) FILTER (nd > 1) = 0
    FROM (SELECT o_orderdate, COUNT(DISTINCT o_orderstatus) AS nd
          FROM orders GROUP BY 1)
    """,
)
def fd_check_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over orders: for each candidate FD
    A→B, how many A-values map to more than one B (and the worst fan-out)
    — the schema-discovery / key-validation primitive (here it certifies
    o_orderkey as a key and quantifies how far the non-keys are from
    determining anything).

    Each candidate costs ONE hash aggregate on its LHS plus a 1-row
    reduction — no joins, no sort; candidates are independent aggregates
    scheduled concurrently, each scanning ONLY its (lhs, rhs) column
    pair (column pruning — pinned in tests/test_plans.py). At
    100 TB a per-LHS COUNT(DISTINCT rhs) with a hot LHS key skews; the
    fallback is the salted two-level distinct (agg_salted_skew's
    pattern). All outputs are exact integers/booleans.
    """
    o = load_table(spark, sf_dir, "orders")
    parts = []
    for lhs, rhs in _FD_CANDIDATES:
        nd = o.groupBy(lhs).agg(F.countDistinct(rhs).alias("nd"))
        parts.append(
            nd.agg(
                F.lit(f"{lhs}->{rhs}").alias("fd"),
                F.count("*").alias("n_lhs"),
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                .cast("bigint")
                .alias("n_violating"),
                F.max("nd").cast("bigint").alias("max_rhs_per_lhs"),
                (
                    F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)) == 0
                ).alias("holds"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "attribution_linear",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('click', 'view')
    ),
    pair AS (
      SELECT p.event_id, p.cents, t.event_type,
             COUNT(*) OVER (PARTITION BY p.event_id) AS n_touches
      FROM p JOIN t
        ON p.user_id = t.user_id
       AND t.ts < p.ts
       AND t.ts >= p.ts - INTERVAL 24 HOUR
    )
    SELECT event_type AS touch_type,
           COUNT(*) AS n_credits,
           COUNT(DISTINCT event_id) AS n_purchases,
           CAST(SUM((cents * 10000) // n_touches) AS BIGINT)
             AS credited_e4
    FROM pair GROUP BY 1
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    evenly across every click/view by the same user in the preceding 24
    hours, then credited revenue rolls up per touch type — the marketing
    measurement primitive between last-touch (asof_last_purchase's shape)
    and the all-pairs interval join (stream_attribution_join).

    Credit division is INTEGER: each (purchase, touch) credit is
    cents*10000 div n_touches — exact bigint arithmetic whose sum is
    reduction-order-immune (the deliberate sub-0.0001-cent remainder
    truncation is the documented contract; no float rationals cross
    engines). Scale: the user+24h band join is the watermark-bounded
    stream-stream join shape — state per user is one day of touches, the
    per-purchase n_touches window partitions by purchase id (already
    co-shuffled by the join), and the final rollup is 2 rows.
    """
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    t = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    pair = p.join(
        t,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("t_ts") < F.col("ts"))
        & (F.col("t_ts") >= F.col("ts") - F.expr("INTERVAL 24 HOURS")),
    ).select("event_id", "cents", "touch_type")
    w = W.partitionBy("event_id")
    pair = pair.withColumn("n_touches", F.count("*").over(w))
    return pair.groupBy("touch_type").agg(
        F.count("*").alias("n_credits"),
        F.countDistinct("event_id").alias("n_purchases"),
        F.sum(F.expr("cents * 10000 div n_touches")).alias("credited_e4"),
    )


@register(
    "source_logodds_tokens",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    c AS (SELECT source, tok, COUNT(*) AS y_sw FROM tok GROUP BY 1, 2),
    g AS (
      SELECT source, tok, y_sw,
             SUM(y_sw) OVER (PARTITION BY tok) AS y_w,
             SUM(y_sw) OVER (PARTITION BY source) AS n_s,
             SUM(y_sw) OVER () AS n
      FROM c
    ),
    z AS (
      SELECT source, tok, y_sw,
        ln((CAST(y_sw AS DOUBLE) + (1000.0 * y_w) / n)
           / (CAST(n_s AS DOUBLE) + 1000.0 - CAST(y_sw AS DOUBLE)
              - (1000.0 * y_w) / n))
        - ln((CAST(y_w - y_sw AS DOUBLE) + (1000.0 * y_w) / n)
             / (CAST(n - n_s AS DOUBLE) + 1000.0
                - CAST(y_w - y_sw AS DOUBLE) - (1000.0 * y_w) / n)) AS delta,
        1.0 / (CAST(y_sw AS DOUBLE) + (1000.0 * y_w) / n)
        + 1.0 / (CAST(y_w - y_sw AS DOUBLE) + (1000.0 * y_w) / n) AS var
      FROM g
    ),
    r AS (
      SELECT source, tok, y_sw,
             FLOOR(delta / sqrt(var) * 1e6 + 0.5) / 1e6 + 0.0
               AS z_logodds
      FROM z
    )
    SELECT source, tok, CAST(y_sw AS BIGINT) AS n_source,
           z_logodds, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY z_logodds DESC, tok) AS rk
      FROM r
    ) WHERE rk <= 5
    """,
)
def source_logodds_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source via log-odds with an informative
    Dirichlet prior (Monroe et al.'s "Fightin' Words") — the
    corpus-comparison tool that, unlike tf-idf, corrects for variance on
    rare terms: z = delta / sqrt(1/(y_sw+a_w) + 1/(y_rw+a_w)) where the
    prior a_w = a0*y_w/n shrinks source counts toward the corpus mix.

    One explode + one (source, token) aggregate; the marginals (token
    totals, source totals, grand total) come from windows OVER the
    grid-sized rollup — no second corpus scan (the cooccurrence_pmi
    ReusedExchange pattern). Cross-engine parity: every float is the
    SAME IEEE op sequence on exact-integer inputs in both engines
    (single-division prior, fixed operand order in the log arguments),
    so ranking on the 1e-6-rounded z with token tiebreak is stable.
    Scale: grid is |sources|x|vocab|; the per-source top-5 is a
    WindowGroupLimit local prune, never a global sort.
    """
    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("y_sw"))
    )
    g = c.select(
        "source",
        "tok",
        "y_sw",
        F.sum("y_sw").over(W.partitionBy("tok")).alias("y_w"),
        F.sum("y_sw").over(W.partitionBy("source")).alias("n_s"),
        F.sum("y_sw").over(W.partitionBy()).alias("n"),
    )
    a_w = (F.lit(1000.0) * F.col("y_w")) / F.col("n")
    y_sw = F.col("y_sw").cast("double")
    y_rw = (F.col("y_w") - F.col("y_sw")).cast("double")
    n_s = F.col("n_s").cast("double")
    n_r = (F.col("n") - F.col("n_s")).cast("double")
    delta = F.log(
        (y_sw + a_w) / (n_s + F.lit(1000.0) - y_sw - a_w)
    ) - F.log((y_rw + a_w) / (n_r + F.lit(1000.0) - y_rw - a_w))
    var = F.lit(1.0) / (y_sw + a_w) + F.lit(1.0) / (y_rw + a_w)
    r = g.select(
        "source",
        "tok",
        "y_sw",
        # 1e-6 floor grid, not ROUND(double, 6): same FLOOR fold on
        # both engines, no half-even edge sensitivity across builds
        (F.floor(delta / F.sqrt(var) * F.lit(1e6) + F.lit(0.5))
         / F.lit(1e6) + F.lit(0.0)).alias("z_logodds"),
    )
    w = W.partitionBy("source").orderBy(F.col("z_logodds").desc(), "tok")
    return (
        r.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "source",
            "tok",
            F.col("y_sw").cast("bigint").alias("n_source"),
            "z_logodds",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


@register(
    "bloom_semi_filter",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM customer c
      WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING'
    )
    GROUP BY 1
    """,
)
def bloom_semi_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders from BUILDING-segment customers, via the broadcast
    Bloom-filter runtime pre-filter + exact semi-join
    (operators/bloom.py) — semantically identical to the plain
    semi-join the oracle runs, which is the point: Bloom filters have no
    false negatives, so the pre-filter only removes rows the exact join
    would drop anyway.

    Scale: at 100 TB the fact rows that can't match die in the SCAN
    projection (map lookup + bitmask AND, whole-stage codegen) before
    any exchange or join probe; the bitmap is ONE broadcast row of
    ≤ m_bits/64 words built by one hash aggregate over the dim keys.
    This is the explicit form of runtime filter pushdown for the cases
    Spark's own runtimeFilter rewrite doesn't cover.
    """
    from ..operators.bloom import bloom_filtered_semi_join

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    hits = bloom_filtered_semi_join(o, c, "o_custkey", "c_custkey")
    return hits.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "revenue_cents"
        ),
    )


@register(
    "heavy_hitters_users",
    oracle="""
    WITH t AS (SELECT COUNT(*) AS total FROM events)
    SELECT user_id, COUNT(*) AS n_rows,
           CAST((COUNT(*) * 1000000) // MAX(t.total) AS BIGINT) AS share_ppm
    FROM events, t
    GROUP BY user_id
    HAVING COUNT(*) * 125 >= MAX(t.total)
    """,
)
def heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users generating at least 0.8% of all events, found by the
    candidate-pruned two-pass heavy-hitter operator (operators/heavy.py)
    instead of a full groupBy over every key.

    Scale: pass 1 is a zero-shuffle mapInPandas partition scan emitting
    at most 1/s = 125 candidate keys PER PARTITION (pigeonhole: a
    globally >= s-frequent key is >= s-frequent in some partition), so
    the only exchange carries candidate keys — bounded by partitions/s,
    independent of key cardinality. Pass 2 recounts candidates exactly,
    which is why the plain HAVING oracle hash-matches despite the
    sketch-shaped first pass. The 0.8% threshold is the rational 1/125
    compared in integer arithmetic end-to-end.
    """
    from ..operators.heavy import heavy_hitters

    e = load_table(spark, sf_dir, "events")
    return heavy_hitters(e, "user_id", num=1, denom=125)


@register(
    "dedup_image_ahash",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(CAST(text AS BLOB)) AS hx,
             LEAST(octet_length(CAST(text AS BLOB)), 64) AS n
      FROM documents
    ),
    px AS (
      SELECT doc_id, n,
             list_transform(range(n),
               i -> CAST(('0x' || substr(hx, CAST(2*i+1 AS BIGINT), 2))
                         AS BIGINT)) AS bytes
      FROM b
    ),
    hs AS (
      SELECT doc_id,
             list_sum(list_transform(range(n),
               i -> CASE WHEN bytes[i+1] > list_sum(bytes) // n
                    THEN CASE WHEN i = 63
                         THEN CAST(9223372036854775808 AS HUGEINT)
                         ELSE CAST(CAST(1 AS BIGINT) << i AS HUGEINT) END
                    ELSE CAST(0 AS HUGEINT) END)) AS s
      FROM px
    ),
    sig AS (
      SELECT doc_id,
             CAST(CASE WHEN s >= CAST(9223372036854775808 AS HUGEINT)
                  THEN s - CAST(18446744073709551616 AS HUGEINT)
                  ELSE s END AS BIGINT) AS ahash
      FROM hs
    )
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(bit_count(xor(a.ahash, c.ahash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig c ON a.doc_id < c.doc_id
    WHERE bit_count(xor(a.ahash, c.ahash)) <= 3
    """,
)
def dedup_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs via 64-bit average-hash + banded
    hamming join — the IMAGE member of the dedup family (exact,
    MinHash-LSH, SimHash, containment, embedding-cosine cover text;
    multimodal payloads get their perceptual-hash equivalent here).

    Composition of two verified operators: image_ahash (Arrow-batched
    mapInPandas kernel, only id+payload cross the boundary, real-codec
    plug point marked) → hamming_neardup_pairs (4x16-bit pigeonhole
    banding — COMPLETE for hamming ≤ 3, so the banded join equals the
    all-pairs scan the oracle runs, at candidates-per-bucket cost).
    At 100 TB: signatures are 8 bytes/image, the band join touches only
    colliding buckets, and the decode never re-runs — the same shape as
    text SimHash, which is the point: one dedup engine, per-modality
    fingerprint kernels.
    """
    from ..operators.dedup import hamming_neardup_pairs
    from ..operators.multimodal import attach_fake_payload, image_ahash

    d = attach_fake_payload(load_table(spark, sf_dir, "documents"))
    sig = image_ahash(d)
    return hamming_neardup_pairs(sig, "doc_id", "ahash", max_hamming=3)


@register(
    "dedup_cross_source_matrix",
    oracle=r"""
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
    jp AS (
      SELECT doc_a, doc_b FROM pairs p
      JOIN sizes x ON p.doc_a = x.doc_id
      JOIN sizes y ON p.doc_b = y.doc_id
      WHERE inter * 1.0 / (x.n + y.n - inter) >= 0.8
    )
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           COUNT(*) AS n_pairs
    FROM jp
    JOIN documents da ON jp.doc_a = da.doc_id
    JOIN documents db ON jp.doc_b = db.doc_id
    GROUP BY 1, 2
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate TRAFFIC between sources: for every unordered
    source pair, how many verified near-dup document pairs (MinHash-LSH
    candidates, exact Jaccard >= 0.8 — the dedup_minhash_lsh contract)
    straddle them. The curation dashboard number that tells you which
    feeds mirror each other (license leaks, scraper loops) vs which
    only self-duplicate.

    Composition on one lineage: minhash_lsh_pairs → two doc_id→source
    lookups → a |sources|² rollup. The lookups join the PAIR frame
    (dedup-output-sized, not corpus-sized) against a two-column
    projection of documents, so at 100 TB the added cost over the dedup
    itself is two id-keyed joins on the small pair set; LEAST/GREATEST
    canonicalizes the unordered pair so each pair counts once.
    """
    d = load_table(spark, sf_dir, "documents")
    src = d.select("doc_id", "source")
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.8).select("doc_a", "doc_b")
    sa = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "variant_props_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS n_distinct_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY 1
    """,
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through Spark 4's VARIANT type:
    parse_json once into the binary variant encoding, then typed
    variant_get path extraction — the modern lakehouse path for schema-
    flexible event properties (complements json_extract, which does the
    same work with per-access string parsing via get_json_object).

    Why it matters at 100 TB: a variant column parses each props string
    ONCE and stores a compact binary tree; ten downstream path accesses
    are then cheap typed lookups instead of ten Jackson re-parses — the
    difference compounds when event pipelines extract many fields. All
    extracted values are exact integers, so the DuckDB string-path
    oracle hash-matches.
    """
    e = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("k").alias("n_distinct_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "hll_mergeable_union",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(COUNT(DISTINCT month(o_orderdate)) AS BIGINT) AS n_partials,
           COUNT(DISTINCT o_custkey) AS exact_customers,
           TRUE AS within_bound
    FROM orders
    GROUP BY 1
    """,
)
def hll_mergeable_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog rollup: per-month HLL sketches of distinct
    customers, union-merged into yearly estimates WITHOUT rescanning the
    raw rows — the incremental-rollup architecture that replaces
    COUNT(DISTINCT) at 100 TB (store a ~4 KB sketch per partition/day,
    answer any coarser distinct query by merging sketches).

    Differs from approx_distinct_sketch (one-shot approx_count_distinct):
    this exercises the MERGE path — hll_sketch_agg produces reusable
    binary sketches, hll_union_agg combines them across an arbitrary
    regrouping. At scale the monthly sketch table is the materialization;
    the yearly merge touches |months| rows, not the fact table.

    Cross-engine parity: sketch estimates differ per engine, so the
    output carries the EXACT yearly distinct (affordable at test SF)
    plus a Spark-side bound check — default lgConfigK=12 gives rsd
    ~1.6%, so |est-exact|/exact <= 6% is a ~3.7 sigma contract; the
    oracle hash-checks exact values and an all-TRUE bound column.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
    )
    monthly = o.groupBy("yr", "mo").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    merged = monthly.groupBy("yr").agg(
        F.count("*").alias("n_partials"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
    )
    exact = o.groupBy("yr").agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    return (
        merged.join(exact, "yr")
        .select(
            F.col("yr").cast("bigint").alias("yr"),
            F.col("n_partials").cast("bigint").alias("n_partials"),
            "exact_customers",
            (
                F.abs(F.col("_est") - F.col("exact_customers"))
                / F.col("exact_customers")
                <= F.lit(0.06)
            ).alias("within_bound"),
        )
    )


@register(
    "dow_seasonality",
    oracle="""
    WITH d AS (
      SELECT isodow(o_orderdate) AS isodow,
             COUNT(*) AS n_orders,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders
      GROUP BY 1
    )
    SELECT CAST(isodow AS BIGINT) AS isodow,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(rev AS BIGINT) AS rev_cents,
           CAST((rev * 1000000) // SUM(rev) OVER () AS BIGINT) AS share_ppm,
           CAST((rev * 7000000) // SUM(rev) OVER () AS BIGINT)
             AS seasonal_index_ppm
    FROM d
    """,
)
def dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index of order revenue — the first probe a
    forecaster runs before fitting anything: share of weekly revenue per
    ISO weekday and the seasonal index (share x 7; 1,000,000 ppm = flat).

    Scale: one map-side-combinable aggregate to a 7-row table; the
    window runs over those 7 rows only. Parity: revenue is exact integer
    cents; shares are integer floor-division on a DECIMAL(38,0)/HUGEINT
    grid (bigint cents * 1e6 would overflow at ~sf1, so both engines
    widen before multiplying). Spark weekday() is Mon=0, DuckDB
    isodow is Mon=1 — the +1 aligns them.
    """
    o = load_table(spark, sf_dir, "orders")
    d = (
        o.select(
            (F.weekday("o_orderdate") + 1).alias("isodow"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("_c"),
        )
        .groupBy("isodow")
        .agg(F.count("*").alias("n_orders"), F.sum("_c").alias("rev"))
        .withColumn(
            "_tot",
            F.sum(F.col("rev").cast("decimal(38,0)")).over(W.partitionBy()),
        )
    )
    return d.select(
        F.col("isodow").cast("bigint").alias("isodow"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("rev").alias("rev_cents"),
        F.expr(
            "CAST((CAST(rev AS DECIMAL(38,0)) * 1000000) DIV _tot AS BIGINT)"
        ).alias("share_ppm"),
        F.expr(
            "CAST((CAST(rev AS DECIMAL(38,0)) * 7000000) DIV _tot AS BIGINT)"
        ).alias("seasonal_index_ppm"),
    )


@register(
    "cusum_daily_orders",
    oracle="""
    WITH d AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, COUNT(*) AS n
      FROM orders GROUP BY 1
    ),
    c AS (
      SELECT day, n,
             SUM(n) OVER (ORDER BY day) AS cum,
             COUNT(*) OVER () AS nd,
             SUM(n) OVER () AS tot,
             ROW_NUMBER() OVER (ORDER BY day) AS rn
      FROM d
    )
    SELECT day,
           CAST(n AS BIGINT) AS n_orders,
           CAST(cum * nd - rn * tot AS BIGINT) AS cusum_scaled,
           CAST(ABS(cum * nd - rn * tot)
                = MAX(ABS(cum * nd - rn * tot)) OVER () AS BOOLEAN) AS is_peak
    FROM c
    """,
)
def cusum_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over the daily order-count series: the
    cumulative deviation from the series mean, scaled to stay in exact
    integers — cusum_t = sum_{i<=t}(c_i - T/D) is rescaled by D to
    cusum_t * D = cum_t*D - t*T (cum = running count, T total, D #days).
    The day where |CUSUM| peaks is the maximum-likelihood single
    changepoint of a mean-shift model — the first drift probe an
    ingest-monitoring pipeline runs on arrival volumes.

    Scale: the fact scan collapses to one map-side-combinable aggregate
    with |days| rows; every window (ordered cumulative, global count,
    global max) runs over that ~2.4k-row rollup, never the fact table —
    the orders_backlog_daily precedent. All arithmetic is BIGINT
    products of exact counts, so the hash cannot float-flip.
    """
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("n"))
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy()
    c = d.select(
        "day",
        "n",
        F.sum("n").over(wcum).alias("cum"),
        F.count("*").over(wall).alias("nd"),
        F.sum("n").over(wall).alias("tot"),
        F.row_number().over(W.orderBy("day")).alias("rn"),
    )
    cusum = F.col("cum") * F.col("nd") - F.col("rn") * F.col("tot")
    return c.select(
        "day",
        F.col("n").cast("bigint").alias("n_orders"),
        cusum.cast("bigint").alias("cusum_scaled"),
        (F.abs(cusum) == F.max(F.abs(cusum)).over(wall)).alias("is_peak"),
    )


@register(
    "asof_tolerance_lookup",
    oracle="""
    WITH ch AS (
      SELECT o_custkey, o_orderdate, o_orderstatus FROM (
        SELECT o_custkey, o_orderdate, o_orderstatus,
          ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                             ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1
    ), ev AS (
      SELECT event_id, user_id, ts FROM events WHERE user_id % 50 = 1
    ), j AS (
      SELECT e.event_id, e.user_id, e.ts, ch.o_orderstatus, ch.o_orderdate
      FROM ev e ASOF LEFT JOIN ch
        ON e.user_id = ch.o_custkey AND ch.o_orderdate <= e.ts
    )
    SELECT event_id, user_id,
      STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      CASE WHEN o_orderdate IS NOT NULL
             AND date_diff('day', o_orderdate, ts) <= 90
           THEN o_orderstatus END AS status_fresh,
      CASE WHEN o_orderdate IS NOT NULL
             AND date_diff('day', o_orderdate, ts) <= 90
           THEN CAST(date_diff('day', o_orderdate, ts) AS BIGINT)
           END AS staleness_days
    FROM j
    """,
)
def asof_tolerance_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of lookup with a max-staleness tolerance — the feature-store
    contract ('use the latest feature value, but only if computed within
    the last 90 days; otherwise treat as missing'). A plain as-of join
    silently serves arbitrarily stale features; the tolerance bound is
    what online/offline feature parity audits actually enforce.

    Same single-shuffle union+window as-of core as pit_status_lookup
    (operators/asof.py — no range join, per-key state only); the
    tolerance is a pure post-projection, so the 100 TB plan is
    unchanged. Staleness is whole calendar days (the right side is
    midnight-dated), identical in both engines since day-boundary
    counting equals date subtraction for midnight anchors.
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
            F.col("o_orderdate").alias("o_date"),
        )
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 50 == 1)
        .select("event_id", "user_id", "ts")
    )
    j = asof_join(ev, ch, on="ts", by="user_id",
                  right_cols=["o_orderstatus", "o_date"])
    stale = F.datediff(F.to_date("ts"), F.to_date("o_date_right"))
    fresh = F.col("o_date_right").isNotNull() & (stale <= 90)
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.when(fresh, F.col("o_orderstatus_right")).alias("status_fresh"),
        F.when(fresh, stale.cast("bigint")).alias("staleness_days"),
    )


# Poisson(1) CDF thresholds — the SINGLE source of truth lives in
# operators/bootstrap.py (the Spark side reads it there); importing it
# keeps the oracle SQL below bit-identical to the weights the Spark
# path computes — a drifted copy would silently desynchronize engines.
from ..operators.bootstrap import POIS1_CDF as _POIS_CDF  # noqa: E402


@register(
    "bootstrap_ci_revenue",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), reps AS (
      SELECT k, k // 4 AS g, k % 4 AS slot
      FROM (SELECT unnest(generate_series(0, 31)) AS k)
    ),
    u AS (
      SELECT r.k, o.cents,
        CAST(('0x' || substr(md5('boot:' || CAST(r.g AS VARCHAR) || ':'
              || CAST(o.o_orderkey AS VARCHAR)), 1 + 8 * r.slot, 8))
             AS BIGINT) / 4294967296.0 AS u
      FROM o, reps r
    ), w AS (
      SELECT k, cents,
          CAST(u >= {_POIS_CDF[0]} AS INT)
        + CAST(u >= {_POIS_CDF[1]} AS INT)
        + CAST(u >= {_POIS_CDF[2]} AS INT)
        + CAST(u >= {_POIS_CDF[3]} AS INT)
        + CAST(u >= {_POIS_CDF[4]} AS INT)
        + CAST(u >= {_POIS_CDF[5]} AS INT)
        + CAST(u >= {_POIS_CDF[6]} AS INT) AS w
      FROM u
    ), t AS (SELECT k, SUM(w * cents) AS bt FROM w GROUP BY k),
    s AS (
      SELECT COUNT(*) AS b,
             SUM(CAST(bt AS HUGEINT)) AS sx,
             SUM(CAST(bt AS HUGEINT) * CAST(bt AS HUGEINT)) AS sxx
      FROM t
    ), obs AS (SELECT SUM(cents) AS oc FROM o)
    SELECT CAST(t.k AS BIGINT) AS replicate,
           CAST(t.bt AS BIGINT) AS boot_total_cents,
           CAST(obs.oc AS BIGINT) AS obs_total_cents,
           CAST(FLOOR(sqrt(CAST(b * sxx - sx * sx AS DOUBLE)
                           / (b * (b - 1.0))) + 0.5) AS BIGINT)
             AS boot_se_cents
    FROM t, s, obs
    """,
)
def bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of total revenue: 32 resampled replicate totals
    plus the bootstrap standard error — the distributed-bootstrap
    technique for putting a confidence interval on any corpus-level
    metric WITHOUT sampling with replacement (impossible to coordinate
    across executors). Each row independently draws a Poisson(1) weight
    per replicate from a seeded md5 uniform, so replicate b's total is
    sum(w_bi * x_i): ONE scan computes all 32 replicates as 32
    map-side-combinable aggregate columns — no row duplication, no
    shuffle of the fact table, the exact shape this runs at 100 TB.

    Parity: weights come from summed threshold comparisons of identical
    double literals against an identical md5-sliced u (exact in both
    engines — one md5 feeds four replicates, the hash floor for 128-bit
    digests); replicate totals are BIGINT cents; the SE's moment sums
    are HUGEINT/DECIMAL(38,0) exact, divided once into a double whose
    IEEE sqrt is correctly rounded identically, then snapped to whole
    cents. The comparison-sum weight form and sliced hashing are
    measured choices — see operators/bootstrap.py for the A/B numbers
    (CASE-chain 9.1s / per-replicate md5 5.3s / this form 4.0s /
    xxhash64 production mode 2.0s at sf0.1).
    """
    from ..operators.bootstrap import poisson_bootstrap_totals

    B = 32
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    t = poisson_bootstrap_totals(
        o, key_col="o_orderkey", value_col="cents", n_replicates=B, rng="md5"
    )
    wall = W.partitionBy()
    btd = F.col("bt").cast("decimal(19,0)")
    sx = F.sum(btd).over(wall)
    sxx = F.sum(btd * btd).over(wall)
    var = (
        (F.lit(B) * sxx - sx * sx).cast("double")
        / F.lit(float(B * (B - 1)))
    )
    return t.select(
        F.col("replicate").cast("bigint").alias("replicate"),
        F.col("bt").cast("bigint").alias("boot_total_cents"),
        F.col("oc").cast("bigint").alias("obs_total_cents"),
        F.floor(F.sqrt(var) + F.lit(0.5)).cast("bigint").alias(
            "boot_se_cents"
        ),
    )


@register(
    "multimodal_wav_decode",
    oracle="""
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx FROM documents
      WHERE length(text) > 0
    ), b AS (
      SELECT doc_id,
             CAST(('0x' || substr(hx, 2 * i - 1, 2)) AS INT) - 128 AS s
      FROM h, UNNEST(generate_series(1, length(hx) // 2)) AS t(i)
    )
    SELECT doc_id,
      CAST(8000 AS INT) AS sample_rate,
      CAST(COUNT(*) AS BIGINT) AS n_frames,
      CAST(COUNT(*) + 44 AS BIGINT) AS container_bytes,
      CAST(SUM(s * s) AS BIGINT) AS energy,
      CAST(MAX(ABS(s)) AS INT) AS peak
    FROM b GROUP BY doc_id
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features through a REAL codec round trip: each payload is
    encoded into a genuine RIFF/WAVE container (8-bit mono PCM) and
    parsed back by the stdlib `wave` reader INSIDE the Arrow kernel
    (operators/multimodal.py::extract_wav_features); energy/peak come
    from the decoded frames. Upgrades the multimodal family from
    deterministic stand-ins to a running container codec — decoded PCM
    provably equals the payload (the oracle recomputes every feature
    from hex(payload), and container_bytes pins the 44-byte canonical
    PCM header the encoder must have written).

    Scale: identical to the other multimodal kernels — only
    (doc_id, payload) cross the Arrow boundary, one batch-at-a-time,
    all features exact integers.
    """
    from ..operators.multimodal import attach_fake_payload, extract_wav_features

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # symmetric with the oracle's WHERE length(text) > 0: a byte-
        # level UNNEST yields no rows for an empty payload, so the
        # oracle would silently drop the doc the kernel still emits
        .filter(F.length("text") > 0)
    )
    return extract_wav_features(attach_fake_payload(d))


@register(
    "multimodal_png_roundtrip",
    oracle="""
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             length(hex(encode(text))) // 2 AS n
      FROM documents WHERE length(text) > 0
    ), g AS (
      SELECT doc_id, hx, n, (n + 31) // 32 AS hh FROM h
    ), s AS (
      SELECT doc_id,
             SUM(CAST(('0x' || substr(hx, 2 * i - 1, 2)) AS INT)) AS sum_px
      FROM g, UNNEST(generate_series(1, n)) AS t(i)
      GROUP BY doc_id
    )
    SELECT g.doc_id,
      CAST(32 AS INT) AS width,
      CAST(hh AS INT) AS height,
      CAST(32 * hh - n AS INT) AS n_pad,
      CAST(sum_px * 1000000 // (32 * hh) AS BIGINT) AS mean_pixel_ppm,
      CAST(('0x' || substr(md5(hx ||
             repeat('00', CAST(32 * hh - n AS INT))), 1, 15)) AS BIGINT)
        AS px_checksum
    FROM g JOIN s ON g.doc_id = s.doc_id
    """,
)
def multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through a REAL compression round trip: payloads
    are encoded as genuine 8-bit grayscale PNGs (zlib IDAT, CRC32 on
    every chunk) and decoded back with chunk-grammar + CRC verification
    (operators/multimodal.py::png_roundtrip_features); dimensions,
    padding, integer mean pixel, and the portable hex-md5 pixel
    checksum all come from the DECODED scanlines. The oracle rebuilds
    each value from hex(payload) — decode(encode(x)) == x is the
    contract being hash-checked across 500 real zlib inflate calls.
    """
    from ..operators.multimodal import attach_fake_payload, png_roundtrip_features

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0)  # symmetric with the oracle WHERE
    )
    return png_roundtrip_features(attach_fake_payload(d))


def _pca_oracle() -> str:
    """Unrolled 3-iteration power-iteration oracle (same grid/centering
    as operators/pca.py — see its docstring for the exactness rules)."""
    iters = ""
    prev = "v0"
    for i in (1, 2, 3):
        iters += f"""
    s{i} AS (
      SELECT vec_id, SUM(CAST(xc AS HUGEINT) * v) AS s
      FROM xc JOIN {prev} USING (dim) GROUP BY vec_id
    ),
    w{i} AS (
      SELECT dim, SUM(CAST(xc AS HUGEINT) * s) AS w
      FROM xc JOIN s{i} USING (vec_id) GROUP BY dim
    ),
    v{i} AS (
      SELECT dim,
        CAST(FLOOR(CAST(w AS DOUBLE)
             / CAST((SELECT MAX(ABS(w)) FROM w{i}) AS DOUBLE)
             * 1000000 + 0.5) AS BIGINT) AS v
      FROM w{i}
    ),"""
        prev = f"v{i}"
    return f"""
    WITH x AS (
      SELECT vec_id, i AS dim,
        CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
             AS BIGINT) AS xq
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    n AS (SELECT COUNT(DISTINCT vec_id) AS n FROM x),
    s0 AS (SELECT dim, SUM(xq) AS sd FROM x GROUP BY dim),
    xc AS (
      SELECT vec_id, x.dim, (SELECT n FROM n) * xq - sd AS xc
      FROM x JOIN s0 ON x.dim = s0.dim
    ),
    v0 AS (SELECT dim, CAST(1000000 AS BIGINT) AS v FROM s0),{iters}
    fin AS (SELECT * FROM v3)
    SELECT CAST(dim AS INT) AS dim, v AS pc1_ppm FROM fin
    """


@register("embedding_top_pc", oracle=_pca_oracle())
def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the centered embedding corpus by
    3-iteration distributed power iteration
    (operators/pca.py::top_pc_power_iteration) — the PCA primitive
    behind whitening, drift directions, and projection-axis selection
    for ANN partitioning. Matrix-free: two join+aggregate matvec rounds
    per iteration, never a dim x dim Gram materialization; all
    arithmetic on exact integer grids (see the operator docstring), so
    the DuckDB oracle unrolls the identical 3 iterations and the final
    64 coordinates hash-match bit-for-bit.
    """
    from ..operators.pca import top_pc_power_iteration

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return top_pc_power_iteration(e)
