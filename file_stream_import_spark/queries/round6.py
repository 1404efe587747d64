"""Round-6 surface widening.

Stream-stream join matrix completion: FULL OUTER and LEFT SEMI batch
mirrors (streaming twins in streaming/windows.py, real-stream tested).
Statistics: Spearman (doubled-rank identity), Wald-Wolfowitz runs
test, chi2 + Cramér's V + mutual information over one contingency
table, Theil-Sen and Mann-Kendall robust trend on the calendar-bounded
month grid, Kaplan-Meier reorder survival with right-censoring.
Analytics: 2-D skyline (Pareto front), Gini concentration, the
Count-Min frequency sketch, ClickHouse-windowFunnel EXISTS-chain
levels. LLM-pipeline: the signed hashing-trick vectorizer, the BMP
round-trip codec, nearest-direction as-of. Lakehouse:
lakehouse_upsert_lifecycle drives io/versioned.py's real
commit/merge/delete/cluster-optimize/pruned-read paths under the
driver's hash check.

The reference delegates every read-side computation to Postgres SQL
(internal/db/db.go:112-124); these shapes extend the analytics surface
a training-data / BI user runs downstream. Engine-stability rules
follow round5.py: cross-engine doubles are single divisions (or short
identical IEEE folds) of EXACT integer sums, snapped onto the _q6
floor grid; entropy/survival terms ride the 1e-9 integer ln grid;
every hash is the portable md5-hex-prefix integer both engines
compute identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..io.tables import load_table
from ..operators.similarity import _q6
from . import register


@register(
    "stream_attribution_full_outer",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id AS click_id,
           COALESCE(c.user_id, p.user_id) AS user_id,
           p.event_id AS purchase_id,
           ROUND(p.value, 2) AS purchase_value,
           CASE WHEN c.event_id IS NULL THEN 'purchase_only'
                WHEN p.event_id IS NULL THEN 'click_only'
                ELSE 'matched' END AS status
    FROM c FULL OUTER JOIN p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 4 HOUR
    """,
)
def stream_attribution_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch form of the FULL OUTER stream-stream interval join:
    matched click→purchase pairs PLUS unconverted clicks PLUS orphan
    purchases with no attributable click (the attribution-gap signal
    left-outer attribution cannot see). The streaming twin with
    watermark-bounded state on both sides is
    streaming/windows.py::attribution_join_full_outer, exercised with
    real streams in tests/test_streaming.py."""
    from ..streaming.windows import attribution_join_full_outer

    return attribution_join_full_outer(load_table(spark, sf_dir, "events"))


@register(
    "spearman_daily_corr",
    oracle="""
    WITH d AS (
      SELECT o_orderdate AS day, COUNT(*) AS n,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY 1
    ),
    rx AS (
      SELECT n AS v, COUNT(*) AS cnt,
             COALESCE(SUM(COUNT(*)) OVER (ORDER BY n
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM d GROUP BY n
    ),
    ry AS (
      SELECT rev AS v, COUNT(*) AS cnt,
             COALESCE(SUM(COUNT(*)) OVER (ORDER BY rev
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM d GROUP BY rev
    ),
    r AS (
      SELECT (2 * rx.cb + rx.cnt + 1) AS x2, (2 * ry.cb + ry.cnt + 1) AS y2
      FROM d JOIN rx ON d.n = rx.v JOIN ry ON d.rev = ry.v
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(x2) AS sx, SUM(y2) AS sy,
             SUM(x2 * x2) AS sxx, SUM(y2 * y2) AS syy,
             SUM(x2 * y2) AS sxy
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 + 0.0 AS spearman_rho
    FROM s
    """,
)
def spearman_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily order COUNT and daily
    REVENUE — the nonparametric monotone-association measure that
    completes the correlation toolkit (corr_matrix_lineitem is Pearson
    on raw values; this is Pearson on ranks, robust to outliers and
    nonlinearity).

    Tie-averaged ranks are the cross-engine hazard (arbitrary
    rationals); the doubled-rank identity from segment_mannwhitney_u
    removes it: 2*avg_rank of a tied value = 2*cum_before + cnt + 1,
    an INTEGER, and Pearson is scale-invariant so rho over doubled
    ranks equals rho over ranks. All five moment sums are exact BIGINT
    (days are calendar-bounded; ranks <= 2*days), leaving one identical
    IEEE division+sqrt on both engines. Scale: the fact table reduces
    to |days| rows in one keyed aggregate; everything after is
    grid-sized."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("rev"),
    )

    def doubled_ranks(col: str, out: str) -> DataFrame:
        w = W.orderBy(col).rowsBetween(W.unboundedPreceding, -1)
        return (
            d.groupBy(col)
            .agg(F.count("*").alias("cnt"))
            .select(
                col,
                (
                    2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
                    + F.col("cnt")
                    + 1
                ).alias(out),
            )
        )

    rx = doubled_ranks("n", "x2")
    ry = doubled_ranks("rev", "y2")
    r = d.join(rx, "n").join(ry, "rev").select("x2", "y2")
    s = r.agg(
        F.count("*").alias("n"),
        F.sum("x2").alias("sx"),
        F.sum("y2").alias("sy"),
        F.sum(F.col("x2") * F.col("x2")).alias("sxx"),
        F.sum(F.col("y2") * F.col("y2")).alias("syy"),
        F.sum(F.col("x2") * F.col("y2")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_days"),
        _q6(num / den).alias("spearman_rho"),
    )


@register(
    "runs_test_daily_revenue",
    oracle="""
    WITH d AS (
      SELECT o_orderdate AS day,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY 1
    ),
    m AS (SELECT CAST(quantile_cont(rev, 0.5) AS DOUBLE) AS med FROM d),
    sgn AS (
      SELECT day, (rev > med) AS above
      FROM d CROSS JOIN m
      WHERE CAST(rev AS DOUBLE) <> med
    ),
    seq AS (
      SELECT above,
             LAG(above) OVER (ORDER BY day) AS prev
      FROM sgn
    ),
    s AS (
      SELECT SUM(CASE WHEN above THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN above THEN 0 ELSE 1 END) AS n2,
             1 + SUM(CASE WHEN prev IS NOT NULL AND above <> prev
                     THEN 1 ELSE 0 END) AS runs
      FROM seq
    )
    SELECT CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
           CAST(runs AS BIGINT) AS n_runs,
           FLOOR((CAST(runs AS DOUBLE)
                  - (CAST(2 * n1 * n2 AS DOUBLE)
                     / CAST(n1 + n2 AS DOUBLE) + 1))
                 / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                        * CAST(2 * n1 * n2 - n1 - n2 AS DOUBLE)
                        / (CAST(n1 + n2 AS DOUBLE)
                           * CAST(n1 + n2 AS DOUBLE)
                           * CAST(n1 + n2 - 1 AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 + 0.0 AS z
    FROM s
    """,
)
def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily-revenue sequence vs its
    median — the classic randomness/trend check (too FEW runs = sticky
    regimes/trend, too MANY = oscillation), completing the stats
    battery's drift tools with a SEQUENCE-order test (KS/MWU/t are all
    order-blind).

    Days equal to the median are excluded (standard treatment). The
    median is one interpolated division of exact integer cents; runs,
    n1, n2 are integers from one lag comparison over the day-ordered
    grid; z applies identical IEEE ops on both engines. Scale: the
    fact table reduces to |days| rows first; the single-partition lag
    window is calendar-bounded (<= tens of thousands of rows for
    decades), never fact-sized."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("rev")
    )
    m = d.agg(F.percentile("rev", F.lit(0.5)).alias("med"))
    sgn = (
        d.crossJoin(F.broadcast(m))
        .filter(F.col("rev").cast("double") != F.col("med"))
        .select("day", (F.col("rev") > F.col("med")).alias("above"))
    )
    seq = sgn.select(
        "above", F.lag("above").over(W.orderBy("day")).alias("prev")
    )
    s = seq.agg(
        F.sum(F.when(F.col("above"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("above"), 0).otherwise(1)).alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("above") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        ).alias("runs"),
    )
    n = F.col("n1") + F.col("n2")
    two = 2 * F.col("n1") * F.col("n2")
    mu = two.cast("double") / n.cast("double") + 1
    var = (
        two.cast("double")
        * (two - n).cast("double")
        / (n.cast("double") * n.cast("double") * (n - 1).cast("double"))
    )
    return s.select(
        F.col("n1").cast("bigint").alias("n_above"),
        F.col("n2").cast("bigint").alias("n_below"),
        F.col("runs").cast("bigint").alias("n_runs"),
        _q6((F.col("runs").cast("double") - mu) / F.sqrt(var)).alias("z"),
    )


@register(
    "skyline_orders",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    dm AS (SELECT o_orderdate, MAX(cents) AS dmax FROM o GROUP BY 1),
    rb AS (
      SELECT o_orderdate, dmax,
             MAX(dmax) OVER (ORDER BY o_orderdate
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS run_before
      FROM dm
    )
    SELECT o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.cents AS price_cents
    FROM o JOIN rb USING (o_orderdate)
    WHERE o.cents = rb.dmax
      AND (rb.run_before IS NULL OR o.cents > rb.run_before)
    """,
)
def skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front) of orders: maximize price, minimize
    date — an order survives iff no other order is at least as early
    AND at least as expensive (strictly better in one dimension). The
    multi-criteria "best offers" operator BI tools call SKYLINE.

    The O(n^2) dominance definition collapses to two grid passes: per
    date the max price (only a date's max can be undominated within
    the date), then a running max over the DATE grid — an order is on
    the skyline iff it ties its date's max and strictly beats every
    earlier date's. Ties on (date, price) are all kept (neither
    dominates — strictness fails in both dimensions). Scale: one
    map-side-combined aggregate to |dates| rows, one calendar-bounded
    window, one broadcast join back — the fact table is never
    shuffled whole."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    dm = o.groupBy("o_orderdate").agg(F.max("cents").alias("dmax"))
    rb = dm.select(
        "o_orderdate",
        "dmax",
        F.max("dmax")
        .over(W.orderBy("o_orderdate").rowsBetween(W.unboundedPreceding, -1))
        .alias("run_before"),
    )
    return (
        o.join(F.broadcast(rb), "o_orderdate")
        .filter(
            (F.col("cents") == F.col("dmax"))
            & (
                F.col("run_before").isNull()
                | (F.col("cents") > F.col("run_before"))
            )
        )
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("cents").alias("price_cents"),
        )
    )


@register(
    "gini_customer_revenue",
    oracle="""
    WITH cr AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY 1
    ),
    rk AS (
      SELECT rev,
             ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i
      FROM cr
    ),
    s AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(rev AS HUGEINT)) AS t,
             SUM(CAST(i AS HUGEINT) * rev) AS w
      FROM rk
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(t AS BIGINT) AS total_rev_cents,
           FLOOR(CAST(2 * w - (n + 1) * t AS DOUBLE)
                 / CAST(n * t AS DOUBLE) * 1e6 + 0.5) / 1e6 + 0.0 AS gini
    FROM s
    """,
)
def gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the single
    inequality number (0 = uniform, ->1 = one whale) completing
    pareto_revenue_share's tier view.

    Uses the rank identity G = (2*SUM(i*x_i) - (n+1)*SUM(x)) /
    (n*SUM(x)) over revenues sorted ascending: every term is an exact
    integer (DECIMAL(38,0) / HUGEINT — i*x_i sums reach ~n^2*avg past
    int64 at warehouse scale), one identical IEEE division at the end.
    The deterministic (rev, custkey) order makes row_number identical
    across engines, and ties contribute the same SUM(i*x) under any
    permutation WITHIN a tie class (equal x). Scale: the global sort
    runs over the CUSTOMER rollup (dimension-sized, one keyed shuffle
    from the fact table), not over orders; for fact-sized Gini use the
    grouped value-grid form (sort distinct values, not rows)."""
    o = load_table(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("rev")
    )
    dec = "decimal(38,0)"
    rk = cr.select(
        "rev",
        F.row_number().over(W.orderBy("rev", "o_custkey")).alias("i"),
    )
    s = rk.agg(
        F.count("*").alias("n"),
        F.sum(F.col("rev").cast(dec)).alias("t"),
        F.sum(F.col("i").cast(dec) * F.col("rev")).alias("w"),
    )
    num = (
        2 * F.col("w") - (F.col("n") + 1).cast(dec) * F.col("t")
    ).cast("double")
    den = (F.col("n").cast(dec) * F.col("t")).cast("double")
    return s.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("t").cast("bigint").alias("total_rev_cents"),
        _q6(num / den).alias("gini"),
    )


@register(
    "text_hashing_vectorizer",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64
               AS bucket,
             CASE WHEN CAST(('0x' || substr(md5(tok), 9, 1)) AS BIGINT)
                       % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM tok
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(sgn) AS BIGINT) AS feat
    FROM h GROUP BY 1, 2
    """,
)
def text_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick (feature-hashing) vectorizer: tokens hashed into a
    FIXED 64-bucket space with a +/-1 sign hash (Weinberger et al.'s
    signed hashing kernel — the sign makes collisions cancel in
    expectation), emitted sparse as (doc_id, bucket, count, feat).

    This is THE vocabulary-free vectorizer for 100 TB corpora: no
    vocabulary build pass, no dictionary broadcast, memory fixed by
    the bucket count — one narrow projection plus one (doc, bucket)
    aggregate, both map-side combinable. The md5-prefix hash is the
    portable cross-engine idiom (operators/text.py), so the oracle
    reproduces buckets and signs bit-identically."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"),
    )
    h = F.md5("tok")
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 64
    sgn = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("bigint") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        tok.select("doc_id", bucket.alias("bucket"), sgn.alias("sgn"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("sgn").cast("bigint").alias("feat"),
        )
        .select("doc_id", F.col("bucket").cast("bigint"), "n_tokens", "feat")
    )


@register(
    "segment_priority_association",
    oracle="""
    WITH cnt AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    rm AS (SELECT seg, CAST(SUM(obs) AS BIGINT) AS r FROM cnt GROUP BY seg),
    cm AS (SELECT pri, CAST(SUM(obs) AS BIGINT) AS c FROM cnt GROUP BY pri),
    nn AS (
      SELECT CAST(SUM(obs) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT seg) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT pri) AS BIGINT) AS nc
      FROM cnt
    ),
    terms AS (
      SELECT
        CAST(FLOOR(
          (CAST(obs AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
          * (CAST(obs AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
          / (CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
          * 1e6 + 0.5) AS BIGINT) AS chi_q,
        obs * (CAST(FLOOR(ln(CAST(n * obs AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
               - CAST(FLOOR(ln(CAST(r * c AS DOUBLE)) * 1e9 + 0.5) AS BIGINT))
          AS mi_q
      FROM cnt JOIN rm USING (seg) JOIN cm USING (pri) CROSS JOIN nn
    )
    SELECT nn.n AS n_orders,
           CAST(SUM(chi_q) AS DOUBLE) / 1e6 + 0.0 AS chi2,
           FLOOR(sqrt((CAST(SUM(chi_q) AS DOUBLE) / 1e6)
                      / (CAST(nn.n AS DOUBLE)
                         * CAST(LEAST(nn.nr - 1, nn.nc - 1) AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 + 0.0 AS cramers_v,
           FLOOR(CAST(SUM(mi_q) AS DOUBLE) / CAST(nn.n AS DOUBLE) / 1e9
                 * 1e6 + 0.5) / 1e6 + 0.0 AS mi_nats
    FROM terms CROSS JOIN nn
    GROUP BY nn.n, nn.nr, nn.nc
    """,
)
def segment_priority_association(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Categorical-association battery over one contingency table
    (c_mktsegment x o_orderpriority): chi-square statistic, Cramér's V
    effect size, and mutual information in nats — the three numbers a
    feature-selection / drift pass wants about a pair of categorical
    columns (chi2 answers "dependent?", V answers "how strongly,
    scale-free", MI answers "how many nats shared").

    Cross-engine exactness via the two established grid idioms: each
    chi2 term floor-quantized to 1e-6 BEFORE the integer sum
    (priority_drift_chi2), and MI as obs * (ln_q(n*obs) - ln_q(r*c))
    over the 1e-9 integer ln grid (source_token_divergence), leaving
    only identical IEEE divisions/sqrt at the end. Scale: the fact
    table reduces to a |segments|x|priorities| cell table in one
    broadcast-join + map-side-combined aggregate; everything after is
    cell-grid-sized."""
    o = load_table(spark, sf_dir, "orders")
    cseg = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("seg"),
    )
    cnt = (
        o.join(F.broadcast(cseg), "o_custkey")
        .groupBy("seg", F.col("o_orderpriority").alias("pri"))
        .agg(F.count("*").alias("obs"))
    )
    rm = cnt.groupBy("seg").agg(F.sum("obs").alias("r"))
    cm = cnt.groupBy("pri").agg(F.sum("obs").alias("c"))
    nn = cnt.agg(
        F.sum("obs").alias("n"),
        F.countDistinct("seg").alias("nr"),
        F.countDistinct("pri").alias("nc"),
    )

    def lnq(x: Column) -> Column:
        return F.floor(F.log(x) * F.lit(1e9) + F.lit(0.5)).cast("bigint")

    e = (F.col("r") * F.col("c")).cast("double") / F.col("n").cast("double")
    chi_q = F.floor(
        (F.col("obs").cast("double") - e)
        * (F.col("obs").cast("double") - e)
        / e
        * 1e6
        + 0.5
    ).cast("bigint")
    mi_q = F.col("obs") * (
        lnq((F.col("n") * F.col("obs")).cast("double"))
        - lnq((F.col("r") * F.col("c")).cast("double"))
    )
    terms = (
        cnt.join(F.broadcast(rm), "seg")
        .join(F.broadcast(cm), "pri")
        .crossJoin(F.broadcast(nn))
        .select(
            "n", "nr", "nc", chi_q.alias("chi_q"), mi_q.alias("mi_q")
        )
    )
    chi2 = F.sum("chi_q").cast("double") / F.lit(1e6) + F.lit(0.0)
    return terms.groupBy("n", "nr", "nc").agg(
        chi2.alias("chi2"),
        _q6(
            F.sqrt(
                (F.sum("chi_q").cast("double") / F.lit(1e6))
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("nr") - 1, F.col("nc") - 1).cast(
                        "double"
                    )
                )
            )
        ).alias("cramers_v"),
        _q6(
            F.sum("mi_q").cast("double")
            / F.col("n").cast("double")
            / F.lit(1e9)
        ).alias("mi_nats"),
    ).select(
        F.col("n").cast("bigint").alias("n_orders"),
        "chi2",
        "cramers_v",
        "mi_nats",
    )


@register(
    "cms_event_counts",
    oracle="""
    WITH rows_h AS (
      SELECT e.event_type, d.d,
             CAST(('0x' || substr(md5('cms' || CAST(d.d AS VARCHAR) || ':'
                                      || e.event_type), 1, 8)) AS BIGINT)
               % 64 AS col
      FROM events e CROSS JOIN (SELECT UNNEST(range(4)) AS d) d
    ),
    sketch AS (
      SELECT d, col, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM rows_h GROUP BY d, col
    ),
    exact AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    ),
    probe AS (
      SELECT x.event_type, d.d,
             CAST(('0x' || substr(md5('cms' || CAST(d.d AS VARCHAR) || ':'
                                      || x.event_type), 1, 8)) AS BIGINT)
               % 64 AS col
      FROM exact x CROSS JOIN (SELECT UNNEST(range(4)) AS d) d
    )
    SELECT p.event_type, MAX(x.n_exact) AS n_exact,
           CAST(MIN(s.cnt) AS BIGINT) AS cms_est
    FROM probe p
    JOIN sketch s ON p.d = s.d AND p.col = s.col
    JOIN exact x ON p.event_type = x.event_type
    GROUP BY p.event_type
    """,
)
def cms_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (depth 4 x width 64) over event types, probed
    against exact counts — the mergeable point-frequency sketch
    completing the sketch family (HLL = distinct cardinality,
    approx_percentile = quantiles, CMS = per-key frequency). The
    estimate is an upper bound (est >= exact, equality without
    collisions) — visible in the output pairs.

    Scale story: the sketch IS the aggregate — 256 integer cells built
    in one map-side-combinable pass regardless of key cardinality or
    row count (each mapper fills a local 4x64 grid; merge is cellwise
    +). Probing is a broadcast join of the probe keys' 4 cells against
    the cell table with a MIN fold. Hashes are the portable md5-prefix
    idiom, so both engines place every row in identical cells."""
    e = load_table(spark, sf_dir, "events").select("event_type")

    def col_for(d: int, key: Column) -> Column:
        h = F.md5(F.concat(F.lit(f"cms{d}:"), key))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 64

    rows_h = e.select(
        "event_type",
        F.posexplode(
            F.array(*[col_for(d, F.col("event_type")) for d in range(4)])
        ).alias("d", "col"),
    )
    sketch = rows_h.groupBy("d", "col").agg(F.count("*").alias("cnt"))
    exact = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_exact")
    )
    probe = exact.select(
        "event_type",
        "n_exact",
        F.posexplode(
            F.array(*[col_for(d, F.col("event_type")) for d in range(4)])
        ).alias("d", "col"),
    )
    return (
        probe.join(F.broadcast(sketch), ["d", "col"])
        .groupBy("event_type")
        .agg(
            F.max("n_exact").alias("n_exact"),
            F.min("cnt").cast("bigint").alias("cms_est"),
        )
    )


@register(
    "theil_sen_monthly",
    oracle="""
    WITH m AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT CAST(b.rev - a.rev AS DOUBLE) / CAST(b.ym - a.ym AS DOUBLE)
               AS slope
      FROM m a JOIN m b ON a.ym < b.ym
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(CAST(quantile_cont(slope, 0.5) AS DOUBLE) * 1e6 + 0.5)
             / 1e6 + 0.0 AS theil_sen_slope
    FROM pairs
    """,
)
def theil_sen_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator on monthly revenue: the median
    of all pairwise slopes — the breakdown-point-0.29 alternative to
    price_trend_by_priority's OLS (one wild month cannot move it).

    Each slope is ONE IEEE division of exact integers (cents delta /
    month delta), identical on both engines, and the median
    interpolates identically-ordered identical doubles. Scale: the
    fact table first reduces to the MONTH grid, so the quadratic pair
    join is over calendar-bounded rows (84 months -> 3.5k pairs; 30
    years -> 65k pairs) — the classic way Theil-Sen stays viable on
    warehouse data; for fact-sized series use the repeated-median
    variant per bounded partition."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("ym")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("rev")
    )
    a = m.select(F.col("ym").alias("ym_a"), F.col("rev").alias("rev_a"))
    b = m.select(F.col("ym").alias("ym_b"), F.col("rev").alias("rev_b"))
    pairs = a.join(b, F.col("ym_a") < F.col("ym_b")).select(
        (
            (F.col("rev_b") - F.col("rev_a")).cast("double")
            / (F.col("ym_b") - F.col("ym_a")).cast("double")
        ).alias("slope")
    )
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        _q6(F.percentile("slope", F.lit(0.5))).alias("theil_sen_slope"),
    )


@register(
    "mann_kendall_trend",
    oracle="""
    WITH m AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT SUM(CASE WHEN b.rev > a.rev THEN 1
                      WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS s_stat
      FROM m a JOIN m b ON a.ym < b.ym
    ),
    n AS (SELECT COUNT(*) AS n FROM m),
    ties AS (
      SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
      FROM (SELECT COUNT(*) AS t FROM m GROUP BY rev HAVING COUNT(*) > 1)
    )
    SELECT CAST(n.n AS BIGINT) AS n_months,
           CAST(s.s_stat AS BIGINT) AS s_stat,
           FLOOR((CAST(s.s_stat AS DOUBLE)
                  - CAST(CASE WHEN s.s_stat > 0 THEN 1
                              WHEN s.s_stat < 0 THEN -1 ELSE 0 END
                         AS DOUBLE))
                 / sqrt((CAST(n.n * (n.n - 1) * (2 * n.n + 5) AS DOUBLE)
                         - CAST(ties.tie_term AS DOUBLE)) / 18)
                 * 1e6 + 0.5) / 1e6 + 0.0 AS z
    FROM s CROSS JOIN n CROSS JOIN ties
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on monthly revenue: S = sum of pairwise
    signs with the tie-corrected normal approximation and continuity
    correction — THE standard monotonic-trend detector for time series
    (pairs with Theil-Sen, which estimates the slope this test
    decides the significance of).

    S and the tie term are exact integers from the calendar-bounded
    month grid (same quadratic-on-the-grid scale argument as
    theil_sen_monthly); z is identical IEEE arithmetic on both
    engines."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("ym")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("rev")
    )
    a = m.select(F.col("ym").alias("ym_a"), F.col("rev").alias("rev_a"))
    b = m.select(F.col("ym").alias("ym_b"), F.col("rev").alias("rev_b"))
    s = a.join(b, F.col("ym_a") < F.col("ym_b")).agg(
        F.sum(
            F.when(F.col("rev_b") > F.col("rev_a"), 1)
            .when(F.col("rev_b") < F.col("rev_a"), -1)
            .otherwise(0)
        ).alias("s_stat")
    )
    n = m.agg(F.count("*").alias("n"))
    ties = (
        m.groupBy("rev")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    j = s.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(ties))
    cc = (
        F.when(F.col("s_stat") > 0, 1)
        .when(F.col("s_stat") < 0, -1)
        .otherwise(0)
    )
    var = (
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        ).cast("double")
        - F.col("tie_term").cast("double")
    ) / 18
    return j.select(
        F.col("n").cast("bigint").alias("n_months"),
        F.col("s_stat").cast("bigint").alias("s_stat"),
        _q6(
            (F.col("s_stat").cast("double") - cc.cast("double"))
            / F.sqrt(var)
        ).alias("z"),
    )


@register(
    "asof_nearest_purchase",
    oracle="""
    WITH cu AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    pu AS (
      SELECT event_id, user_id, ts FROM (
        SELECT event_id, user_id, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase') WHERE rn = 1
    ),
    bwd AS (
      SELECT c.event_id, c.user_id, c.ts,
             p.event_id AS b_id, p.ts AS b_ts
      FROM cu c ASOF LEFT JOIN pu p
        ON c.user_id = p.user_id AND p.ts <= c.ts
    ),
    fn AS (
      SELECT c.event_id, p.event_id AS f_id, p.ts AS f_ts
      FROM (SELECT event_id, user_id, -epoch_us(ts) AS nts FROM cu) c
      ASOF LEFT JOIN
           (SELECT event_id, user_id, ts, -epoch_us(ts) AS nts FROM pu) p
        ON c.user_id = p.user_id AND p.nts <= c.nts
    )
    SELECT b.event_id AS click_id, b.user_id,
           CASE WHEN b.b_id IS NULL AND f.f_id IS NULL THEN NULL
                WHEN f.f_id IS NULL THEN b.b_id
                WHEN b.b_id IS NULL THEN f.f_id
                WHEN epoch_us(b.ts) - epoch_us(b.b_ts)
                     <= epoch_us(f.f_ts) - epoch_us(b.ts) THEN b.b_id
                ELSE f.f_id END AS purchase_id,
           CASE WHEN b.b_id IS NULL AND f.f_id IS NULL THEN NULL
                WHEN f.f_id IS NULL THEN 'before'
                WHEN b.b_id IS NULL THEN 'after'
                WHEN epoch_us(b.ts) - epoch_us(b.b_ts)
                     <= epoch_us(f.f_ts) - epoch_us(b.ts) THEN 'before'
                ELSE 'after' END AS direction,
           CASE WHEN b.b_id IS NULL AND f.f_id IS NULL THEN NULL
                WHEN f.f_id IS NULL
                  THEN epoch_us(b.ts) - epoch_us(b.b_ts)
                WHEN b.b_id IS NULL
                  THEN epoch_us(f.f_ts) - epoch_us(b.ts)
                ELSE LEAST(epoch_us(b.ts) - epoch_us(b.b_ts),
                           epoch_us(f.f_ts) - epoch_us(b.ts))
                END AS gap_us
    FROM bwd b JOIN fn f USING (event_id)
    """,
)
def asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join: for each click, the temporally closest
    purchase in EITHER direction (tie -> the earlier one) — pandas'
    merge_asof(direction='nearest'), completing the as-of family
    (backward asof_last_purchase, forward asof_next_purchase,
    tolerance asof_tolerance_lookup).

    Composed from the two directional union+window as-of passes
    (operators/asof.py — one keyed shuffle each, no join, the 100 TB
    shape) with a projection picking the closer side. Purchases are
    deduplicated per (user, ts) first (max event_id) so equal-timestamp
    ties are deterministic in both engines."""
    from ..operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    w = W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    bwd = asof_join(
        clicks, purchases, on="ts", by="user_id", right_cols=["event_id"],
        suffix="_b",
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("event_id_b").alias("b_id"),
    )
    # recover the matched backward ts via the purchase table (id is
    # unique), keeping the operator's one-payload-column contract
    bts = purchases.select(
        F.col("event_id").alias("b_id"), F.col("ts").alias("b_ts")
    )
    bwd = bwd.join(F.broadcast(bts), "b_id", "left")
    neg = (F.unix_micros(F.col("ts")) * -1).alias("nts")
    fwd = asof_join(
        clicks.select("event_id", "user_id", neg),
        purchases.select("event_id", "user_id", "ts", neg),
        on="nts",
        by="user_id",
        right_cols=["event_id", "ts"],
        suffix="_f",
    ).select(
        "event_id",
        F.col("event_id_f").alias("f_id"),
        F.col("ts_f").alias("f_ts"),
    )
    j = bwd.join(fwd, "event_id")
    bgap = F.unix_micros("ts") - F.unix_micros("b_ts")
    fgap = F.unix_micros("f_ts") - F.unix_micros("ts")
    prefer_b = F.col("f_id").isNull() | (
        F.col("b_id").isNotNull() & (bgap <= fgap)
    )
    none = F.col("b_id").isNull() & F.col("f_id").isNull()
    return j.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.when(none, F.lit(None).cast("long"))
        .when(prefer_b, F.col("b_id"))
        .otherwise(F.col("f_id"))
        .alias("purchase_id"),
        F.when(none, F.lit(None).cast("string"))
        .when(prefer_b, F.lit("before"))
        .otherwise(F.lit("after"))
        .alias("direction"),
        F.when(none, F.lit(None).cast("long"))
        .when(prefer_b, bgap)
        .otherwise(fgap)
        .alias("gap_us"),
    )


@register(
    "multimodal_bmp_roundtrip",
    oracle="""
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             length(hex(encode(text))) // 2 AS n
      FROM documents WHERE length(text) > 0
    ), g AS (
      SELECT doc_id, hx, n, (n + 29) // 30 AS hh FROM h
    ), s AS (
      SELECT doc_id,
             SUM(CAST(('0x' || substr(hx, 2 * i - 1, 2)) AS INT)) AS sum_px
      FROM g, UNNEST(generate_series(1, n)) AS t(i)
      GROUP BY doc_id
    )
    SELECT g.doc_id,
      CAST(30 AS INT) AS width,
      CAST(hh AS INT) AS height,
      CAST(30 * hh - n AS INT) AS n_pad,
      CAST(sum_px * 1000000 // (30 * hh) AS BIGINT) AS mean_pixel_ppm,
      CAST(('0x' || substr(md5(hx ||
             repeat('00', CAST(30 * hh - n AS INT))), 1, 15)) AS BIGINT)
        AS px_checksum
    FROM g JOIN s ON g.doc_id = s.doc_id
    """,
)
def multimodal_bmp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through a REAL BMP encode→decode round trip
    (operators/multimodal.py::bmp_roundtrip_features): little-endian
    dual headers, 256-entry grayscale palette verification, bottom-up
    rows, and 4-byte stride padding (width 30 → stride 32, so the
    padding path genuinely runs) — the third real container codec
    beside WAV and PNG.

    The payload is the deterministic fake (UTF-8 bytes of text), so
    DuckDB reproduces every decoded pixel from hex(encode(text)) and
    the WHOLE pipeline — headers, palette, row inversion, de-padding —
    is value-checked: a single byte misplaced by the row-order or
    stride logic changes px_checksum. Only doc_id + payload cross the
    Arrow boundary; all emitted features are integers."""
    from ..operators.multimodal import (
        attach_fake_payload,
        bmp_roundtrip_features,
    )

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )
    return bmp_roundtrip_features(attach_fake_payload(d))


@register(
    "stream_attribution_semi",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id,
           STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM events c
    WHERE c.event_type = 'click'
      AND EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id
          AND p.ts > c.ts
          AND p.ts <= c.ts + INTERVAL 4 HOUR
      )
    """,
)
def stream_attribution_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the LEFT SEMI stream-stream interval join: clicks
    that converted, each AT MOST ONCE regardless of how many purchases
    followed — conversion counting with no downstream dedup. Streaming
    twin: streaming/windows.py::attribution_join_semi (emits on FIRST
    match, no watermark wait), real-stream tested."""
    from ..streaming.windows import attribution_join_semi

    return attribution_join_semi(load_table(spark, sf_dir, "events"))


@register(
    "window_funnel_levels",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    l1 AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    ),
    l2 AS (
      SELECT DISTINCT v.user_id
      FROM events v JOIN events c
        ON v.user_id = c.user_id
       AND v.event_type = 'view' AND c.event_type = 'click'
       AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 4 HOUR
    ),
    l3 AS (
      SELECT DISTINCT v.user_id
      FROM events v
      JOIN events c
        ON v.user_id = c.user_id
       AND v.event_type = 'view' AND c.event_type = 'click'
       AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 4 HOUR
      JOIN events p
        ON p.user_id = v.user_id
       AND p.event_type = 'purchase'
       AND p.ts > c.ts AND p.ts <= v.ts + INTERVAL 4 HOUR
    )
    SELECT * FROM (
      SELECT 0 AS level,
             CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_users
      UNION ALL SELECT 1, CAST((SELECT COUNT(*) FROM l1) AS BIGINT)
      UNION ALL SELECT 2, CAST((SELECT COUNT(*) FROM l2) AS BIGINT)
      UNION ALL SELECT 3, CAST((SELECT COUNT(*) FROM l3) AS BIGINT))
    """,
)
def window_funnel_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-windowFunnel semantics: a user reaches level k if ANY
    ordered chain view→click→purchase exists with every step inside a
    4-hour window anchored at the CHAIN'S OWN first event — the
    existence form. `funnel_conversion` is the greedy earliest-event
    funnel (anchored at each user's MIN timestamps), which can MISS
    chains this finds: a user whose first view never converts but whose
    later view does counts here and not there. Both semantics ship
    because product analytics tools disagree on exactly this point.

    Plan (r7 single-pass rewrite): ONE events scan → one groupBy(user)
    collecting the per-user view/click/purchase timestamp arrays → the
    chain-existence tests run JVM-side as nested EXISTS higher-order
    functions over those arrays (short-circuiting ArrayExists, exact
    µs arithmetic) → one global 4-counter aggregate → stack() to the
    4-row shape. The r6 form ran FOUR driver actions whose join
    pyramid re-read events up to 4x; this is one job, one shuffle.
    Per-user work is O(|V|·|C|·|P|) worst case — identical to the
    join pyramid's per-user cost, but heavy users now cost one task
    each instead of skewing three joins (salting hook unchanged)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    four_h = F.lit(4 * 3600 * 1_000_000)

    def arr(kind: str, name: str):
        return F.collect_list(
            F.when(F.col("event_type") == kind, F.col("us"))
        ).alias(name)

    per_user = e.groupBy("user_id").agg(
        arr("view", "V"), arr("click", "C"), arr("purchase", "P")
    )
    lvl1 = F.size("V") > 0
    lvl2 = F.exists(
        "V",
        lambda v: F.exists("C", lambda c: (c > v) & (c <= v + four_h)),
    )
    lvl3 = F.exists(
        "V",
        lambda v: F.exists(
            "C",
            lambda c: (c > v)
            & (c <= v + four_h)
            & F.exists("P", lambda p: (p > c) & (p <= v + four_h)),
        ),
    )
    counts = per_user.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(lvl1.cast("long")).alias("n1"),
        F.sum(lvl2.cast("long")).alias("n2"),
        F.sum(lvl3.cast("long")).alias("n3"),
    )
    return counts.selectExpr(
        "stack(4, 0, n0, 1, n1, 2, n2, 3, n3) AS (level, n_users)"
    ).select(
        F.col("level").cast("int"), F.col("n_users").cast("bigint")
    )


@register(
    "survival_km_reorder",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey)
               AS next_date
      FROM orders
    ),
    horizon AS (SELECT MAX(o_orderdate) AS h FROM orders),
    dur AS (
      SELECT CASE WHEN next_date IS NULL
                  THEN date_diff('day', o_orderdate, h)
                  ELSE date_diff('day', o_orderdate, next_date) END AS t,
             CASE WHEN next_date IS NULL THEN 0 ELSE 1 END AS ev
      FROM o CROSS JOIN horizon
    ),
    grid AS (
      SELECT t, SUM(ev) AS d, COUNT(*) AS c FROM dur GROUP BY t
    ),
    km AS (
      SELECT t, d,
        SUM(c) OVER (ORDER BY t DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS n_risk
      FROM grid
    )
    SELECT CAST(t AS BIGINT) AS duration_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           CASE WHEN n_risk = d THEN NULL ELSE
           FLOOR(CAST(SUM(CASE WHEN d > 0 AND n_risk > d THEN
                     (CAST(FLOOR(ln(CAST(n_risk - d AS DOUBLE))
                                    * 1e9 + 0.5) AS BIGINT)
                              - CAST(FLOOR(ln(CAST(n_risk AS DOUBLE))
                                     * 1e9 + 0.5) AS BIGINT))
                     ELSE 0 END)
                 OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 + 0.0
           END AS log_survival
    FROM km
    WHERE d > 0
    """,
)
def survival_km_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of customer reorder time: duration =
    days to the next order; a customer's LAST order is right-censored
    at the corpus horizon — the churn-analysis estimator that plain
    "average gap" statistics get wrong precisely because of censoring.

    Emitted in the LOG domain: S(t) = prod(1 - d/n) is a float product
    whose association order differs per engine, but ln S(t) is a
    CUMULATIVE SUM of per-step integers on the 1e-9 ln grid
    (ln_q(n-d) - ln_q(n)), exact cross-engine like the KL/entropy
    batteries — exp() is deliberately NOT applied (libm vs JVM exp can
    differ in the last ulp). Scale: one keyed window for durations, a
    duration-grid aggregate, and a grid-sized reverse cumulative sum
    for the at-risk counts — the fact table shuffles once on customer.
    """
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = o.select(
        "o_custkey",
        "o_orderdate",
        F.lead("o_orderdate").over(w).alias("next_date"),
    )
    h = o.agg(F.max("o_orderdate").alias("h"))
    dur = nxt.crossJoin(F.broadcast(h)).select(
        F.when(
            F.col("next_date").isNull(),
            F.datediff(F.col("h"), F.col("o_orderdate")),
        )
        .otherwise(F.datediff(F.col("next_date"), F.col("o_orderdate")))
        .cast("long")
        .alias("t"),
        F.when(F.col("next_date").isNull(), 0).otherwise(1).alias("ev"),
    )
    grid = dur.groupBy("t").agg(
        F.sum("ev").alias("d"), F.count("*").alias("c")
    )
    wdesc = W.orderBy(F.col("t").desc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    km = grid.select(
        "t", "d", F.sum("c").over(wdesc).alias("n_risk")
    )

    def lnq(x: Column) -> Column:
        return F.floor(F.log(x) * F.lit(1e9) + F.lit(0.5)).cast("bigint")

    # n_risk == d means S(t) hits exactly 0 (everyone at risk exits):
    # its log is -inf, emitted as NULL on both sides
    step = F.when(
        (F.col("d") > 0) & (F.col("n_risk") > F.col("d")),
        lnq((F.col("n_risk") - F.col("d")).cast("double"))
        - lnq(F.col("n_risk").cast("double")),
    ).otherwise(F.lit(0).cast("bigint"))
    wasc = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    return (
        km.withColumn("lsq", F.sum(step).over(wasc))
        .filter(F.col("d") > 0)
        .select(
            F.col("t").cast("bigint").alias("duration_days"),
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("d").cast("bigint").alias("n_events"),
            F.when(
                F.col("n_risk") == F.col("d"), F.lit(None).cast("double")
            )
            .otherwise(_q6(F.col("lsq").cast("double") / F.lit(1e9)))
            .alias("log_survival"),
        )
    )


@register(
    "lakehouse_upsert_lifecycle",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 10 < 3
    ),
    upd AS (
      SELECT o_orderkey AS k, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             'UPDATED' AS status
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT), o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 3
    ),
    merged AS (
      SELECT * FROM base WHERE k NOT IN (SELECT k FROM upd)
      UNION ALL SELECT * FROM upd
    ),
    final AS (
      SELECT * FROM merged
      WHERE NOT (status = 'F' AND k % 7 = 0)
    )
    SELECT k AS o_orderkey, o_custkey, cents, status
    FROM final WHERE k BETWEEN 1 AND 2000
    """,
)
def lakehouse_upsert_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned table's WHOLE lifecycle as one hash-checked query:
    three interleaved-key commits → file-pruned MERGE (updates of the
    k%10=0 keys + inserts of the k%10=3 keys) → merge-on-read equality
    DELETE → OPTIMIZE CLUSTER BY (materializes the delete, range-
    clusters the groups) → a stats-PRUNED read of one key range. The
    oracle recomputes the same overlay/delete/range relationally, so
    every mechanism in io/versioned.py — manifest stats, pruned
    rewrite, delete scoping, clustering, group skipping — is
    value-verified by the driver, not just by local tests.

    The table is built in a throwaway temp dir; the result is
    localCheckpointed so the dir can be removed before returning (the
    driver collects lazily). Row volume is the k%10<4 subset of
    orders — bounded, and every step is the operator's real code
    path, not a simulation."""
    import shutil
    import tempfile

    from ..io.versioned import VersionedTable, merge_into

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_orderstatus").alias("status"),
    )
    t = VersionedTable(tempfile.mkdtemp(prefix="lake_lifecycle_"))
    try:
        base = o.filter(F.col("k") % 10 < 3)
        for i in range(3):
            t.commit(
                base.filter(F.col("k") % 3 == i),
                mode="append" if i else "overwrite",
            )
        upd = (
            o.filter(F.col("k") % 10 == 0)
            .withColumn("status", F.lit("UPDATED"))
            .unionByName(o.filter(F.col("k") % 10 == 3))
        )
        merge_into(t, spark, upd, key="k")
        t.delete_where(
            spark,
            (F.col("status") == "F") & (F.col("k") % 7 == 0),
            strategy="merge-on-read",
            key_cols=["k"],
        )
        t.optimize(spark, cluster_by="k", target_groups=4)
        out = (
            t.read(spark, where={"k": (1, 2000)})
            .select(
                F.col("k").alias("o_orderkey"), "o_custkey", "cents",
                "status",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(t.path, ignore_errors=True)
    return out


@register(
    "xml_roundtrip_source",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders WHERE o_orderkey % 20 = 0
    GROUP BY 1
    """,
)
def xml_roundtrip_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink under the driver's hash check: a deterministic
    orders subset is written as an XML document collection
    (io/formats.py::write_xml — Spark 4's built-in source), read back
    with a PINNED schema (the production rule: inference costs a full
    extra pass), and aggregated; the oracle computes the same rollup
    straight from parquet, so a single attribute lost or retyped by
    the XML round trip breaks the hash."""
    import shutil
    import tempfile

    from ..io.formats import read_xml, write_xml

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 20 == 0
    ).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    d = tempfile.mkdtemp(prefix="xml_rt_")
    try:
        write_xml(o, d, row_tag="order", root_tag="orders")
        back = read_xml(
            spark, d, row_tag="order",
            schema="o_orderkey bigint, status string, cents bigint",
        )
        out = (
            back.groupBy("status")
            .agg(
                F.count("*").cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


@register(
    "avro_roundtrip_source",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders WHERE o_orderkey <= 3000
    GROUP BY 1
    """,
)
def avro_roundtrip_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro source under the driver's hash check: a FIXED-SIZE orders
    subset (o_orderkey <= 3000 — constant-bounded at every scale
    factor, so the driver-side container write stays O(1)) goes
    through io/avro_local.py's REAL container codec — deflate blocks,
    sync markers, nullable-union field — into two .avro shards, is
    read back via the avro_local Python DataSource, and aggregated
    against the parquet-direct oracle. At scale the write side is
    spark-avro (README deploy note); this pins the reader's spec
    compliance into the driver's correctness ledger alongside the
    JVM-reference interop tests."""
    import shutil
    import tempfile

    from ..io.avro_local import AvroLocalDataSource, write_container

    spark.dataSource.register(AvroLocalDataSource)
    rows = [
        (r.k, r.status, r.cents)
        for r in load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 3000)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .collect()
    ]
    schema = {
        "type": "record",
        "name": "order",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "status", "type": ["null", "string"]},
            {"name": "cents", "type": "long"},
        ],
    }
    d = tempfile.mkdtemp(prefix="avro_rt_")
    try:
        half = len(rows) // 2 or 1
        write_container(
            f"{d}/a.avro", schema, rows[:half], codec="deflate"
        )
        write_container(f"{d}/b.avro", schema, rows[half:], codec="null")
        back = spark.read.format("avro_local").option("path", d).load()
        out = (
            back.groupBy("status")
            .agg(
                F.count("*").cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


@register(
    "forecast_backtest_metrics",
    oracle="""
    WITH d AS (
      SELECT o_orderdate AS day,
             date_diff('day', DATE '1970-01-01', o_orderdate) % 7 AS dow,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY 1, 2
    ),
    model AS (
      SELECT dow, SUM(rev) AS s, COUNT(*) AS c
      FROM d WHERE day < DATE '1997-01-01' GROUP BY dow
    ),
    test AS (
      SELECT d.rev, CAST(m.s AS DOUBLE) / CAST(m.c AS DOUBLE) AS pred
      FROM d JOIN model m USING (dow)
      WHERE d.day >= DATE '1997-01-01'
    ),
    terms AS (
      SELECT
        CAST(FLOOR(ABS((CAST(rev AS DOUBLE) - pred) / 100) * 1e2 + 0.5)
             AS BIGINT) AS ae_q,
        CAST(FLOOR((CAST(rev AS DOUBLE) - pred) / 100
                   * ((CAST(rev AS DOUBLE) - pred) / 100) + 0.5)
             AS BIGINT) AS se_q,
        CAST(FLOOR(ABS(CAST(rev AS DOUBLE) - pred)
                   / CAST(rev AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS ape_q
      FROM test
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test_days,
      FLOOR(CAST(SUM(ae_q) AS DOUBLE) / COUNT(*) + 0.5)
        / 1e2 + 0.0 AS mae_dollars,
      FLOOR(sqrt(CAST(SUM(se_q) AS DOUBLE) / COUNT(*))
            * 1e2 + 0.5) / 1e2 + 0.0 AS rmse_dollars,
      FLOOR(CAST(SUM(ape_q) AS DOUBLE) / COUNT(*) / 1e9 * 100
            * 1e4 + 0.5) / 1e4 + 0.0 AS mape_pct
    FROM terms
    """,
)
def forecast_backtest_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: fit a day-of-week seasonal-mean model on
    pre-1997 daily revenue, score 1997+ days, and report MAE / RMSE /
    MAPE — the evaluation loop every demand-forecasting pipeline runs,
    as pure aggregation (fit = one grouped mean, score = one broadcast
    join; no iteration, no ML library).

    Day-of-week is epoch_days % 7 — engine-portable, unlike
    dayofweek() whose week origin differs between engines. Each error
    term is floor-quantized onto an integer grid BEFORE the sum (the
    per-term idiom from priority_drift_chi2), so the error aggregates
    are reduction-order-immune; the final divisions/sqrt are identical
    IEEE ops. Grids are sized for magnitude: absolute errors in
    DOLLARS on a 1e-2 grid (cent precision, int64-safe past daily
    revenues of 1e10 $), squared errors on the 1-dollar^2 grid
    (int64-safe to ~3e9 $/day errors; at larger scale widen the term
    to DECIMAL as the sums already are). Scale: fact -> |days| rows in
    one aggregate, model is 7 rows broadcast, everything after is
    day-grid-sized."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.col("o_orderdate").alias("day"),
        (F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")) % 7).alias(
            "dow"
        ),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("rev")
    )
    cut = F.lit("1997-01-01").cast("date")
    model = (
        d.filter(F.col("day") < cut)
        .groupBy("dow")
        .agg(F.sum("rev").alias("s"), F.count("*").alias("c"))
    )
    test = (
        d.filter(F.col("day") >= cut)
        .join(F.broadcast(model), "dow")
        .select(
            "rev",
            (F.col("s").cast("double") / F.col("c").cast("double")).alias(
                "pred"
            ),
        )
    )
    err = F.col("rev").cast("double") - F.col("pred")
    err_d = err / 100  # dollars: keeps the squared grid inside int64
    terms = test.select(
        F.floor(F.abs(err_d) * 1e2 + 0.5).cast("bigint").alias("ae_q"),
        F.floor(err_d * err_d + 0.5).cast("bigint").alias("se_q"),
        F.floor(
            F.abs(err) / F.col("rev").cast("double") * 1e9 + 0.5
        ).cast("bigint").alias("ape_q"),
    )
    n = F.count("*")
    # grid sums go through DECIMAL(38,0): se_q reaches ~1e18 per term
    # (daily-revenue cents squared on the 1e2 grid), past int64 when
    # summed — DuckDB's SUM is HUGEINT already
    dec = "decimal(38,0)"
    return terms.agg(
        n.cast("bigint").alias("n_test_days"),
        (
            F.floor(
                F.sum(F.col("ae_q").cast(dec)).cast("double") / n + 0.5
            ) / 1e2 + 0.0
        ).alias("mae_dollars"),
        (
            F.floor(
                F.sqrt(F.sum(F.col("se_q").cast(dec)).cast("double") / n)
                * 1e2 + 0.5
            ) / 1e2 + 0.0
        ).alias("rmse_dollars"),
        (
            F.floor(
                F.sum(F.col("ape_q").cast(dec)).cast("double")
                / n / 1e9 * 100 * 1e4 + 0.5
            ) / 1e4 + 0.0
        ).alias("mape_pct"),
    )


@register(
    "part_cooccurrence_topk",
    oracle="""
    WITH pdf AS (
      SELECT l_partkey FROM lineitem
      GROUP BY 1 HAVING COUNT(*) <= 64
    ),
    li AS (
      SELECT l.l_orderkey, l.l_partkey
      FROM lineitem l JOIN pdf USING (l_partkey)
    ),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    sym AS (
      SELECT p1 AS part, p2 AS other, cnt FROM pairs
      UNION ALL
      SELECT p2, p1, cnt FROM pairs
    ),
    rk AS (
      SELECT part, other, cnt,
             ROW_NUMBER() OVER (PARTITION BY part
                                ORDER BY cnt DESC, other) AS rk
      FROM sym
    )
    SELECT part, other, cnt, CAST(rk AS BIGINT) AS rk
    FROM rk WHERE rk <= 5 AND cnt >= 2
    """,
)
def part_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence recommender: for each part, the top-5
    parts most often bought in the SAME order (co-purchase counts with
    the deterministic (cnt DESC, other ASC) tie-break; singleton pairs
    dropped) — the classic "customers also bought" candidate generator.

    Scale: the self-join explodes per-ORDER pairs, bounded by order
    size squared (TPC-H ~7 lines/order -> <=21 pairs), never by corpus
    size — the same per-container bound that keeps basket_type_pairs
    safe; one orderkey-equi join, one pair aggregate, one per-part
    top-k window over the pair table (WindowGroupLimit prunes
    locally). The df-CAP (r7, mirrored in the oracle) is the stop-item
    cut a production recsys needs: parts on more than 64 lineitems are
    excluded BEFORE pairing via a broadcast anti-join against the
    (tiny) hot-part set, so one ubiquitous SKU contributes 0 pairs
    instead of df x avg_order_size — the pair table is bounded by
    df_cap x order_size per part, independent of how skewed the
    catalog gets (same hot-key policy as inverted_index_postings).
    The frequency is plain COUNT(*) per part — map-side combinable,
    no distinct shuffle — which is the right cheap proxy for 'how
    many pairs can this part spawn' (it IS the pair bound)."""
    _DF_CAP = 64
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    hot = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > _DF_CAP)
        .select("l_partkey")
    )
    li = li.join(F.broadcast(hot), "l_partkey", "left_anti")
    a = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p1")
    )
    b = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p2")
    )
    pairs = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("cnt"))
    )
    sym = pairs.select(
        F.col("p1").alias("part"), F.col("p2").alias("other"), "cnt"
    ).unionByName(
        pairs.select(
            F.col("p2").alias("part"), F.col("p1").alias("other"), "cnt"
        )
    )
    w = W.partitionBy("part").orderBy(F.col("cnt").desc(), F.col("other"))
    return (
        sym.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= 5) & (F.col("cnt") >= 2))
        .select("part", "other", "cnt", F.col("rk").cast("bigint"))
    )


@register(
    "rolling_corr_30d",
    oracle="""
    WITH d AS (
      SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS ed,
             CAST(COUNT(*) AS BIGINT) AS x,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ),
    w AS (
      SELECT ed,
        COUNT(*) OVER win AS n,
        SUM(CAST(x AS HUGEINT)) OVER win AS sx,
        SUM(CAST(y AS HUGEINT)) OVER win AS sy,
        SUM(CAST(x AS HUGEINT) * x) OVER win AS sxx,
        SUM(CAST(y AS HUGEINT) * y) OVER win AS syy,
        SUM(CAST(x AS HUGEINT) * y) OVER win AS sxy
      FROM d
      WINDOW win AS (ORDER BY ed RANGE BETWEEN 29 PRECEDING
                     AND CURRENT ROW)
    )
    SELECT CAST(ed AS BIGINT) AS epoch_day,
      CAST(n AS BIGINT) AS n_days,
      FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
            / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                   * CAST(n * syy - sy * sy AS DOUBLE))
            * 1e6 + 0.5) / 1e6 + 0.0 AS corr_count_rev
    FROM w
    WHERE n >= 20
      AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def rolling_corr_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day rolling Pearson correlation between daily order
    count and daily revenue — the windowed drift probe ("is volume
    decoupling from value?") composing a time-RANGE frame with the
    moment-sum correlation identity.

    All six rolling moments are exact integer sums inside ONE RANGE
    window over the epoch-day grid (a trailing-interval frame ROWS
    can't express — same mechanism as trailing_hour_window), so each
    day's correlation is identical IEEE arithmetic on identical
    integers. Degenerate windows (fewer than 20 observed days, or
    zero variance in either series) are excluded on both sides.
    Scale: the fact table reduces to the day grid first; the window
    touches |days| rows."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("ed")
    ).agg(
        F.count("*").alias("x"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("y"),
    )
    # moment products through DECIMAL(38,0)/HUGEINT: y^2 (daily cents
    # squared) passes int64 around sf1 — the price_trend_by_priority
    # widening rule
    dec = "decimal(38,0)"
    win = W.orderBy("ed").rangeBetween(-29, 0)
    w = d.select(
        "ed",
        F.count("*").over(win).alias("n"),
        F.sum(F.col("x").cast(dec)).over(win).alias("sx"),
        F.sum(F.col("y").cast(dec)).over(win).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).over(win).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).over(win).alias("sxy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    return (
        w.filter(
            (F.col("n") >= 20) & (varx > 0) & (vary > 0)
        )
        .select(
            F.col("ed").cast("bigint").alias("epoch_day"),
            F.col("n").cast("bigint").alias("n_days"),
            _q6(
                num / F.sqrt(varx.cast("double") * vary.cast("double"))
            ).alias("corr_count_rev"),
        )
    )


@register(
    "cdc_apply_into_lake",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 10 < 3
    ),
    chg AS (
      SELECT o_orderkey AS k, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             'CHANGED' AS status, 'U' AS op
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT),
             o_orderstatus, 'D'
      FROM orders WHERE o_orderkey % 10 = 1 AND o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT),
             o_orderstatus, 'I'
      FROM orders WHERE o_orderkey % 10 = 4
    ),
    applied AS (
      SELECT * FROM base WHERE k NOT IN (SELECT k FROM chg)
      UNION ALL
      SELECT k, o_custkey, cents, status FROM chg WHERE op <> 'D'
    )
    SELECT k AS o_orderkey, o_custkey, cents, status FROM applied
    """,
)
def cdc_apply_into_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY CHANGES INTO under the driver's hash check: a
    deterministic I/U/D changelog derived from orders — updates of the
    k%10=0 keys, deletes of the failed k%10=1 orders, inserts of the
    k%10=4 keys, PLUS a stale duplicate change per k%50=0 key that the
    seq_col last-writer-wins resolution must discard — lands on a
    3-commit versioned table through io/versioned.py::apply_changes
    (one file-pruned rewrite for the whole batch). The oracle
    recomputes the applied state relationally, so op routing, LWW
    resolution, delete-of-absent-key no-ops, and the pruned rewrite
    are all value-verified."""
    import shutil
    import tempfile

    from ..io.versioned import VersionedTable, apply_changes

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_orderstatus").alias("status"),
    )
    t = VersionedTable(tempfile.mkdtemp(prefix="cdc_apply_"))
    try:
        base = o.filter(F.col("k") % 10 < 3)
        for i in range(3):
            t.commit(
                base.filter(F.col("k") % 3 == i),
                mode="append" if i else "overwrite",
            )
        final = (
            o.filter(F.col("k") % 10 == 0)
            .withColumn("status", F.lit("CHANGED"))
            .withColumn("op", F.lit("U"))
            .unionByName(
                o.filter(
                    (F.col("k") % 10 == 1) & (F.col("status") == "F")
                ).withColumn("op", F.lit("D"))
            )
            .unionByName(
                o.filter(F.col("k") % 10 == 4).withColumn(
                    "op", F.lit("I")
                )
            )
            .withColumn("seq", F.lit(2))
        )
        stale = (
            final.filter(F.col("k") % 50 == 0)
            .withColumn("status", F.lit("STALE"))
            .withColumn("seq", F.lit(1))
        )
        apply_changes(
            t,
            spark,
            final.unionByName(stale),
            key="k",
            op_col="op",
            seq_col="seq",
        )
        out = (
            t.read(spark)
            .select(
                F.col("k").alias("o_orderkey"), "o_custkey", "cents",
                "status",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(t.path, ignore_errors=True)
    return out


@register(
    "lake_snapshot_diff",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status
      FROM orders WHERE o_orderkey % 10 < 3
    ),
    chg AS (
      SELECT o_orderkey AS k, 'CHANGED' AS status, 'U' AS op
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, 'D'
      FROM orders WHERE o_orderkey % 10 = 1 AND o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderkey, o_orderstatus, 'I'
      FROM orders WHERE o_orderkey % 10 = 4
    )
    SELECT c.k AS o_orderkey,
           CASE WHEN b.k IS NULL THEN 'I'
                WHEN c.op = 'D' THEN 'D'
                ELSE 'U' END AS change,
           b.status AS old_status,
           CASE WHEN c.op = 'D' THEN NULL ELSE c.status END AS new_status
    FROM chg c LEFT JOIN base b ON c.k = b.k
    WHERE NOT (c.op = 'D' AND b.k IS NULL)          -- no-op delete
      -- equal-value upsert (b.k guard keeps the predicate FALSE, not
      -- NULL, for inserts — WHERE NULL would silently drop them)
      AND NOT (c.op <> 'D' AND b.k IS NOT NULL
               AND b.status = c.status)
    """,
)
def lake_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snapshot_diff under the driver's hash check: apply a
    deterministic I/U/D changelog to a versioned table and diff the
    before/after versions; the oracle derives the EFFECTIVE changelog
    relationally (no-op deletes and equal-value upserts excluded) —
    so the manifest-aware shared-group skip, the full-outer key
    reconciliation, and the null-safe payload comparison are all
    value-verified. 'U' rows whose CHANGED value coincidentally equals
    the old status are excluded on both sides (the diff's unchanged
    cancellation)."""
    import shutil
    import tempfile

    from ..io.versioned import VersionedTable, apply_changes, snapshot_diff

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
    )
    t = VersionedTable(tempfile.mkdtemp(prefix="lake_diff_"))
    try:
        t.commit(o.filter(F.col("k") % 10 < 3))
        v0 = t.latest_version()
        ch = (
            o.filter(F.col("k") % 10 == 0)
            .withColumn("status", F.lit("CHANGED"))
            .withColumn("op", F.lit("U"))
            .unionByName(
                o.filter(
                    (F.col("k") % 10 == 1) & (F.col("status") == "F")
                ).withColumn("op", F.lit("D"))
            )
            .unionByName(
                o.filter(F.col("k") % 10 == 4).withColumn(
                    "op", F.lit("I")
                )
            )
        )
        v1 = apply_changes(t, spark, ch, key="k")
        out = (
            snapshot_diff(t, spark, v0, v1, key="k")
            .select(
                F.col("k").alias("o_orderkey"),
                "change",
                F.col("old").getField("status").alias("old_status"),
                F.col("new").getField("status").alias("new_status"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(t.path, ignore_errors=True)
    return out


@register(
    "embedding_outlier_mahalanobis",
    oracle="""
    WITH x AS (
      SELECT vec_id, i.i + 1 AS pos,
             CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1e6 + 0.5)
                  AS BIGINT) AS xq
      FROM embeddings CROSS JOIN (SELECT UNNEST(range(64)) AS i) i
    ),
    s AS (
      SELECT pos, COUNT(*) AS n,
             SUM(CAST(xq AS HUGEINT)) AS sd,
             SUM(CAST(xq AS HUGEINT) * xq) AS qd
      FROM x GROUP BY pos
    ),
    terms AS (
      SELECT x.vec_id,
        CAST(FLOOR(
          CAST((s.n * x.xq - s.sd) * (s.n * x.xq - s.sd) AS DOUBLE)
          / CAST(s.n * s.qd - s.sd * s.sd AS DOUBLE)
          * 1e6 + 0.5) AS BIGINT) AS term_q
      FROM x JOIN s USING (pos)
      WHERE s.n * s.qd - s.sd * s.sd > 0
    ),
    d AS (
      SELECT vec_id, SUM(term_q) AS dist_q FROM terms GROUP BY vec_id
    )
    SELECT vec_id,
           CAST(dist_q AS DOUBLE) / 1e6 + 0.0 AS mahalanobis2,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT vec_id, dist_q,
             ROW_NUMBER() OVER (ORDER BY dist_q DESC, vec_id) AS rk
      FROM d
    ) WHERE rk <= 20
    """,
)
def embedding_outlier_mahalanobis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 embedding outliers by DIAGONAL Mahalanobis distance —
    the covariance-normalized anomaly score a corpus-cleaning pass
    runs before training (Euclidean distance over-weights
    high-variance dimensions; the diagonal form normalizes each
    dimension by its own variance without the d x d covariance
    inverse, the standard at-scale compromise).

    Exactness: coordinates snap to the 1e-6 integer grid (the PCA
    idiom); per-dimension mean/variance are exact HUGEINT/decimal
    moments; each vector's per-dimension term is one IEEE division of
    exact integers, floor-quantized to 1e-6 BEFORE the per-vector sum
    (order-immune integer addition). Scale: one exploded pass +
    map-side-combined per-dimension moments (64 rows, broadcast
    back), one (vec, dim)-bounded projection, one per-vector sum, and
    a global top-20 TakeOrdered — no pairwise anything. Zero-variance
    dimensions are excluded identically on both sides."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("pos0", "v")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("v").cast("double") * 1e6 + F.lit(0.5))
        .cast("bigint")
        .alias("xq"),
    )
    dec = "decimal(38,0)"
    s = x.groupBy("pos").agg(
        F.count("*").alias("n"),
        F.sum(F.col("xq").cast(dec)).alias("sd"),
        F.sum(F.col("xq").cast(dec) * F.col("xq")).alias("qd"),
    )
    dev = F.col("n") * F.col("xq") - F.col("sd")
    var = F.col("n") * F.col("qd") - F.col("sd") * F.col("sd")
    terms = (
        x.join(F.broadcast(s), "pos")
        .filter(var > 0)
        .select(
            "vec_id",
            F.floor(
                (dev * dev).cast("double") / var.cast("double") * 1e6
                + 0.5
            )
            .cast("bigint")
            .alias("term_q"),
        )
    )
    d = terms.groupBy("vec_id").agg(F.sum("term_q").alias("dist_q"))
    w = W.orderBy(F.col("dist_q").desc(), F.col("vec_id"))
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select(
            "vec_id",
            (F.col("dist_q").cast("double") / 1e6 + F.lit(0.0)).alias(
                "mahalanobis2"
            ),
            F.col("rk").cast("bigint"),
        )
    )


@register(
    "simpsons_slope_check",
    oracle="""
    WITH b AS (
      SELECT c.c_mktsegment AS seg,
             date_diff('day', DATE '1992-01-01', o.o_orderdate) AS x,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    per AS (
      SELECT seg, COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM b GROUP BY seg
    ),
    pooled AS (
      SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
             SUM(sxx) AS sxx, SUM(sxy) AS sxy
      FROM per
    )
    SELECT p.seg,
      FLOOR(CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
            / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE)
            * 1e6 + 0.5) / 1e6 + 0.0 AS slope_segment,
      FLOOR(CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
            / CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE)
            * 1e6 + 0.5) / 1e6 + 0.0 AS slope_global,
      (CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
       * CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE) < 0) AS reverses
    FROM per p CROSS JOIN pooled g
    """,
)
def simpsons_slope_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen: the OLS price-over-time slope per
    customer segment vs the pooled global slope, flagging segments
    whose trend REVERSES sign under aggregation — the classic
    aggregation trap every BI rollout should test for before reporting
    a 'global trend'.

    The global moments are the SUMS of the per-segment moments
    (integer-exact, so the pooled fit costs nothing extra — one
    grouped aggregate feeds both levels). Sign comparison uses the
    covariance numerators (denominators are positive variances), so
    the flag is exact integer arithmetic; displayed slopes snap to the
    1e-6 grid. Same broadcast-dim + map-side-combined-moments shape as
    price_trend_by_priority."""
    o = load_table(spark, sf_dir, "orders")
    cseg = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("seg"),
    )
    b = o.join(F.broadcast(cseg), "o_custkey").select(
        "seg",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("bigint")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
    )
    dec = "decimal(38,0)"
    per = b.groupBy("seg").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    glob = per.agg(
        F.sum("n").alias("gn"),
        F.sum("sx").alias("gsx"),
        F.sum("sy").alias("gsy"),
        F.sum("sxx").alias("gsxx"),
        F.sum("sxy").alias("gsxy"),
    )
    pcov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    pvar = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    gcov = (
        F.col("gn") * F.col("gsxy") - F.col("gsx") * F.col("gsy")
    ).cast("double")
    gvar = (
        F.col("gn") * F.col("gsxx") - F.col("gsx") * F.col("gsx")
    ).cast("double")
    return per.crossJoin(F.broadcast(glob)).select(
        "seg",
        _q6(pcov / pvar).alias("slope_segment"),
        _q6(gcov / gvar).alias("slope_global"),
        (pcov * gcov < 0).alias("reverses"),
    )
