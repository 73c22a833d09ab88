"""Statistical aggregates and distribution window functions, plus
ANSI-safety showcases. Correlation/covariance use the explicit
moment-sum formula over exactly-scaled int64 sums — order-independent and
bit-identical cross-engine, unlike streaming Welford accumulators (which
are engine- and partition-order-specific)."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions.exact import int_div_exact
from bigdata_2025_1_spark.functions.hashing import md5_int, sql_md5_int
from bigdata_2025_1_spark.functions.iterate import iterate
from bigdata_2025_1_spark.functions.ranks import (
    cum_counts_over_values,
    with_global_rank,
    with_prefix_min,
)
from bigdata_2025_1_spark.io import load, spread
from bigdata_2025_1_spark.registry import query

# exact moment sums: quantities scaled by 1e2, prices by 1e2 → products 1e4
_SQL_MOMENTS = """
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(ROUND(l_quantity * 1e2) AS BIGINT)) AS sx,
         SUM(CAST(ROUND(l_extendedprice * 1e2) AS BIGINT)) AS sy,
         SUM(CAST(ROUND(l_quantity * 1e2) AS BIGINT) * CAST(ROUND(l_quantity * 1e2) AS BIGINT)) AS sxx,
         SUM(CAST(ROUND(l_extendedprice * 1e2) AS BIGINT) * CAST(ROUND(l_extendedprice * 1e2) AS BIGINT)) AS syy,
         SUM(CAST(ROUND(l_quantity * 1e2) AS BIGINT) * CAST(ROUND(l_extendedprice * 1e2) AS BIGINT)) AS sxy
  FROM lineitem
  GROUP BY l_returnflag
"""


@query(
    "stats_correlation",
    oracle=f"""
    WITH m AS ({_SQL_MOMENTS})
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy)::DOUBLE
                 / (sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE)), 9)
             AS corr_qty_price,
           ROUND(((n * sxy - sx * sy)::DOUBLE / n / n) / 1e4, 4) AS covar_pop
    FROM m
    ORDER BY l_returnflag
    """,
)
def stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + population covariance of quantity vs price
    per returnflag, from exact int64 moment sums (the map-side-combinable
    formulation — one pass, no second scan for means). Rounded at the end
    (sqrt/div chains share IEEE semantics; rounding guards the last ulp).
    """
    li = load(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity") * 100).cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    # per-row products fit int64 (≤1e14); their SUM does not (≈6e19 at
    # sf0.1) — widen to decimal(38,0) before summing. ANSI mode makes the
    # int64 version fail loudly instead of wrapping, which is how this was
    # caught. (DuckDB's SUM(BIGINT) auto-widens to HUGEINT.)
    dec = "decimal(38,0)"
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
        F.sum((y * y).cast(dec)).alias("syy"),
        F.sum((x * y).cast(dec)).alias("sxy"),
    )
    n, sx, sy = F.col("n").cast(dec), F.col("sx").cast(dec), F.col("sy").cast(dec)
    cov_num = (n * F.col("sxy") - sx * sy).cast("double")
    corr = cov_num / (
        F.sqrt((n * F.col("sxx") - sx * sx).cast("double"))
        * F.sqrt((n * F.col("syy") - sy * sy).cast("double"))
    )
    covar_pop = cov_num / F.col("n") / F.col("n") / 1e4
    return m.select(
        "l_returnflag",
        "n",
        F.round(corr, 9).alias("corr_qty_price"),
        F.round(covar_pop, 4).alias("covar_pop"),
    ).orderBy("l_returnflag")


@query(
    "window_distribution_funcs",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_acctbal,
           ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 9) AS cume,
           FIRST_VALUE(s_suppkey) OVER w AS poorest_supp,
           NTH_VALUE(s_suppkey, 2) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_poorest
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    ORDER BY s_nationkey, s_acctbal, s_suppkey
    """,
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank / cume_dist (single
    division each — rounded for ulp safety), first_value, nth_value with
    an explicit full frame."""
    s = load(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return s.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        F.first("s_suppkey").over(w).alias("poorest_supp"),
        F.nth_value("s_suppkey", 2).over(w_full).alias("second_poorest"),
    ).orderBy("s_nationkey", "s_acctbal", "s_suppkey")


@query(
    "safe_math_ansi",
    oracle="""
    SELECT o_orderkey,
           o_totalprice / NULLIF(CAST(o_orderkey % 3 AS DOUBLE), 0) AS guarded_div,
           TRY_CAST(o_orderpriority AS INTEGER) AS bad_cast_null,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS priority_digit
    FROM orders
    WHERE o_orderkey < 200
    ORDER BY o_orderkey
    """,
)
def safe_math_ansi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode safety surface: Spark 4 runs ANSI SQL (overflow/bad casts
    RAISE by default — correct at scale, where silent nulls hide data
    corruption); controlled null-paths use try_cast / nullif guards."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    return o.select(
        "o_orderkey",
        (
            F.col("o_totalprice")
            / F.nullif((F.col("o_orderkey") % 3).cast("double"), F.lit(0.0))
        ).alias("guarded_div"),
        F.col("o_orderpriority").try_cast("int").alias("bad_cast_null"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("priority_digit"),
    ).orderBy("o_orderkey")


@query(
    "price_histogram",
    oracle="""
    SELECT CAST(FLOOR(p_retailprice / 200) AS BIGINT) AS bucket,
           CAST(FLOOR(p_retailprice / 200) AS BIGINT) * 200 AS bucket_lo,
           COUNT(*) AS n_parts
    FROM part
    GROUP BY 1
    ORDER BY bucket
    """,
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via integer bucketing (the scalable
    histogram: one pass, map-side combinable; width_bucket semantics
    without engine-specific functions)."""
    p = load(spark, sf_dir, "part")
    bucket = F.floor(F.col("p_retailprice") / 200).cast("bigint")
    return (
        p.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n_parts"))
        .select("bucket", (F.col("bucket") * 200).alias("bucket_lo"), "n_parts")
        .orderBy("bucket")
    )


@query(
    "quantile_sketch_merge",
    oracle="""
    WITH pts AS (
      SELECT event_type, user_id % 8 AS shard,
             CAST(LEAST(GREATEST(FLOOR(value / 10), 0), 63) AS INT) AS b,
             CAST(ROUND(value * 100) AS BIGINT) AS sv
      FROM events WHERE value IS NOT NULL
    ), sketch AS (
      SELECT event_type, shard, b, COUNT(*) AS cnt FROM pts GROUP BY 1, 2, 3
    ), merged AS (
      SELECT event_type, b, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM sketch GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, b, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY b
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS total
      FROM merged
    ), est AS (
      SELECT event_type,
             CAST(MAX(total) AS BIGINT) AS n,
             MAX(CASE WHEN cum >= 0.5 * total AND cum - cnt < 0.5 * total
                      THEN ROUND(b * 10.0 + (0.5 * total - (cum - cnt)) * 10.0 / cnt, 6)
                 END) AS p50_est,
             MAX(CASE WHEN cum >= 0.95 * total AND cum - cnt < 0.95 * total
                      THEN ROUND(b * 10.0 + (0.95 * total - (cum - cnt)) * 10.0 / cnt, 6)
                 END) AS p95_est,
             MAX(CASE WHEN cum >= 0.99 * total AND cum - cnt < 0.99 * total
                      THEN ROUND(b * 10.0 + (0.99 * total - (cum - cnt)) * 10.0 / cnt, 6)
                 END) AS p99_est
      FROM cum GROUP BY event_type
    ), ex AS (
      SELECT event_type,
             ROUND(quantile_cont(sv, 0.5) / 100.0, 6) AS p50_exact
      FROM pts GROUP BY event_type
    )
    SELECT e.event_type, e.n, e.p50_est, e.p95_est, e.p99_est, x.p50_exact
    FROM est e JOIN ex x USING (event_type)
    ORDER BY e.event_type
    """,
)
def quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch: per-shard equi-width histograms (64
    buckets, width 10) merged by elementwise count-sum, then linear
    interpolation inside the straddling bucket for p50/p95/p99 — the
    algebraic two-level (partial → merge) shape every distributed
    percentile runs at 100 TB, where exact sort-based percentiles are
    unrunnable. Unlike approx_percentile's GK summaries (merge-order
    dependent → not bit-stable), histogram counts merge exactly, so the
    estimates are deterministic and the DuckDB oracle reproduces them
    bit-for-bit. An exact scaled-int median twin rides along to expose
    the sketch's bucket-resolution error.

    Stage 1 keys on (type, shard, bucket) — fully map-side combinable;
    stage 2 re-keys on (type, bucket); the interpolation works on
    ≤64 rows per type."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    pts = ev.select(
        "event_type",
        (F.col("user_id") % 8).alias("shard"),
        F.least(F.greatest(F.floor(F.col("value") / 10), F.lit(0)), F.lit(63))
        .cast("int")
        .alias("b"),
        F.round(F.col("value") * 100).cast("bigint").alias("sv"),
    )
    sketch = pts.groupBy("event_type", "shard", "b").agg(F.count("*").alias("cnt"))
    merged = sketch.groupBy("event_type", "b").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("b")
    cum = merged.select(
        "event_type",
        "b",
        "cnt",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt")
        .over(
            Window.partitionBy("event_type").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("total"),
    )

    def _est(q: float):
        t = F.lit(q) * F.col("total")
        prev = F.col("cum") - F.col("cnt")
        hit = (F.col("cum") >= t) & (prev < t)
        interp = F.round(
            F.col("b") * 10.0 + (t - prev) * 10.0 / F.col("cnt"), 6
        )
        return F.max(F.when(hit, interp))

    est = cum.groupBy("event_type").agg(
        F.max("total").cast("bigint").alias("n"),
        _est(0.5).alias("p50_est"),
        _est(0.95).alias("p95_est"),
        _est(0.99).alias("p99_est"),
    )
    ex = pts.groupBy("event_type").agg(
        F.round(F.expr("percentile(sv, 0.5)") / 100.0, 6).alias("p50_exact")
    )
    return est.join(ex, "event_type").orderBy("event_type")


_PROFILE_COLS = (
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "cents"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "string"),
)


def _sql_profile_leg(name: str, kind: str) -> str:
    if kind == "cents":
        expr = f"CAST(ROUND({name} * 100) AS BIGINT)"
    elif kind == "date":
        expr = f"CAST({name} AS DATE)"
    else:
        expr = name
    return f"""
    SELECT '{name}' AS column_name,
           CAST(COUNT(*) - COUNT({name}) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {expr}) AS BIGINT) AS n_distinct,
           CAST(MIN({expr}) AS VARCHAR) AS min_value,
           CAST(MAX({expr}) AS VARCHAR) AS max_value
    FROM orders"""


@query(
    "table_profile",
    oracle=" UNION ALL ".join(
        _sql_profile_leg(n, k) for n, k in _PROFILE_COLS
    )
    + " ORDER BY column_name",
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the data-quality pass every ingest runs): per
    column null count, exact distinct cardinality, min/max rendered as
    strings. One row per column, computed in a SINGLE scan — the
    metrics all live in one aggregate row that is then exploded into
    the long format (no per-column re-scan, no union of 6 jobs, which
    is what the naive profiler does).

    Doubles are profiled in exact cents and timestamps as dates so the
    string rendering is engine-stable. At 100 TB swap COUNT(DISTINCT)
    for approx_count_distinct per column — same single-scan shape."""
    o = load(spark, sf_dir, "orders")

    def norm(name: str, kind: str):
        c = F.col(name)
        if kind == "cents":
            return F.round(c * 100).cast("bigint")
        if kind == "date":
            return c.cast("date")
        return c

    aggs = []
    for name, kind in _PROFILE_COLS:
        e = norm(name, kind)
        aggs += [
            (F.count("*") - F.count(e)).alias(f"{name}__nulls"),
            F.countDistinct(e).alias(f"{name}__distinct"),
            F.min(e).cast("string").alias(f"{name}__min"),
            F.max(e).cast("string").alias(f"{name}__max"),
        ]
    one = o.agg(*aggs)
    legs = F.array(
        *[
            F.struct(
                F.lit(name).alias("column_name"),
                F.col(f"{name}__nulls").cast("bigint").alias("n_nulls"),
                F.col(f"{name}__distinct").cast("bigint").alias("n_distinct"),
                F.col(f"{name}__min").alias("min_value"),
                F.col(f"{name}__max").alias("max_value"),
            )
            for name, _ in _PROFILE_COLS
        ]
    )
    return (
        one.select(F.explode(legs).alias("p"))
        .select("p.*")
        .orderBy("column_name")
    )


@query(
    "stats_regression",
    oracle=f"""
    WITH m AS ({_SQL_MOMENTS})
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx), 9) AS slope,
           ROUND((sy - ((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)) * sx)
                 / n / 100.0, 9) AS intercept,
           ROUND(((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)), 9) AS r2
    FROM m
    ORDER BY l_returnflag
    """,
)
def stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares regression of extended price on quantity per return
    flag — slope, intercept (in currency units), R² — from the same
    exact int64/decimal moment sums as ``stats_correlation`` (never the
    streaming regr_* accumulators, whose partial-merge order is
    engine-specific). One map-side-combinable aggregate; the closed-form
    arithmetic happens on 6 numbers per group."""
    li = load(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity") * 100).cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    dec = "decimal(38,0)"
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
        F.sum((y * y).cast(dec)).alias("syy"),
        F.sum((x * y).cast(dec)).alias("sxy"),
    )
    n, sx, sy = F.col("n").cast(dec), F.col("sx").cast(dec), F.col("sy").cast(dec)
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = (n * F.col("sxx") - sx * sx).cast("double")
    slope = num / den
    intercept = (sy.cast("double") - slope * sx.cast("double")) / F.col("n") / 100.0
    r2 = (num * num.cast("double")) / (den * (n * F.col("syy") - sy * sy).cast("double"))
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope, 9).alias("slope"),
        F.round(intercept, 9).alias("intercept"),
        F.round(r2, 9).alias("r2"),
    ).orderBy("l_returnflag")


@query(
    "zscore_outliers",
    oracle="""
    WITH m AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s,
             SUM(CAST(ROUND(value * 100) AS BIGINT) * CAST(ROUND(value * 100) AS BIGINT)) AS q
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, MAX(m.n) AS n,
           CAST(COUNT(*) FILTER (
             WHERE POWER(m.n * CAST(ROUND(e.value * 100) AS BIGINT) - m.s, 2)
                   > 9.0 * m.n * (m.n * m.q - m.s * m.s)
           ) AS BIGINT) AS n_outliers
    FROM events e JOIN m USING (event_type)
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma outlier counts per event type. The z test is algebraically
    cross-multiplied into integer-derived doubles — (n·x − S)² > 9·n·(n·Q − S²)
    — so no mean/stddev division ever happens row-side and both engines
    compare the same IEEE values (inputs are exact int cents).

    Scale shape: the per-type moment row is a tiny broadcast aggregate
    joined back into a single fact re-scan — the standard two-pass
    outlier sweep (one combinable agg + one map-side filtered scan)."""
    ev = load(spark, sf_dir, "events")
    v = F.round(F.col("value") * 100).cast("bigint")
    dec = "decimal(38,0)"
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s"),
        F.sum((v * v).cast(dec)).alias("q"),
    )
    n, s, q = F.col("n").cast(dec), F.col("s").cast(dec), F.col("q").cast(dec)
    lhs = F.pow((n * v.cast(dec) - s).cast("double"), 2)
    rhs = 9.0 * F.col("n").cast("double") * (n * q - s * s).cast("double")
    return (
        ev.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.count(F.when(lhs > rhs, 1)).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 256  # buckets per row = one md5 hex-byte prefix
CMS_PROBES = 20  # words whose estimates are reported

_CMS_ROWS_SQL = "(SELECT unnest([0, 1, 2, 3]) AS hrow)"


def _cms_bucket(row_col: Column, word_col: Column) -> Column:
    """Cell column for hash row ``row_col``: first hex byte of
    md5(row:word) — engine-portable, no cross-engine hash dependency."""
    return F.substring(
        F.md5(F.concat(row_col.cast("string"), F.lit(":"), word_col)), 1, 2
    )


def cms_cells(tokens: DataFrame) -> DataFrame:
    """Build the 4×256 count-min cell matrix DIRECTLY from the token
    stream: each token fans out to its ``CMS_DEPTH`` (row, bucket) cells
    and the only aggregation key is the fixed 1024-cell space — the
    vocabulary never keys a shuffle. Map-side partial aggregation
    collapses every input partition to ≤1024 rows before the single
    exchange (pinned in ``tests/test_plans.py``)."""
    hrows = F.array(*[F.lit(d) for d in range(CMS_DEPTH)])
    return (
        tokens.select(F.explode(hrows).alias("hrow"), "word")
        .select("hrow", _cms_bucket(F.col("hrow"), F.col("word")).alias("bucket"))
        .groupBy("hrow", "bucket")
        .agg(F.count("*").alias("cell"))
    )


@query(
    "count_min_sketch_words",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS word
      FROM documents
    ), counts AS MATERIALIZED (
      SELECT word, COUNT(*) AS n FROM tok GROUP BY word
    ), cms AS (
      SELECT hrow, substr(md5(hrow || ':' || word), 1, 2) AS bucket,
             SUM(n) AS cell
      FROM counts CROSS JOIN {_CMS_ROWS_SQL} r
      GROUP BY hrow, bucket
    ), probes AS (
      SELECT word, n FROM counts ORDER BY n DESC, word LIMIT {CMS_PROBES}
    )
    SELECT p.word, CAST(p.n AS BIGINT) AS exact_n,
           CAST(MIN(c.cell) AS BIGINT) AS cms_est,
           CAST(MIN(c.cell) - p.n AS BIGINT) AS overcount
    FROM probes p
    CROSS JOIN {_CMS_ROWS_SQL} r
    JOIN cms c ON c.hrow = r.hrow
              AND c.bucket = substr(md5(r.hrow || ':' || p.word), 1, 2)
    GROUP BY p.word, p.n
    ORDER BY exact_n DESC, word
    """,
)
def count_min_sketch_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus vocabulary: a 4×256 cell matrix
    (row r, bucket = first hex byte of md5(r:word)) answers point
    frequency queries with ``min`` over the word's four cells —
    guaranteed overestimates, reported next to exact counts for the top
    20 words.

    The 100 TB story: the sketch is a FIXED-SIZE (4×256) mergeable
    summary regardless of vocabulary size, and ``cms_cells`` builds it
    straight from the token stream — token → (row, bucket) cell, no
    vocabulary-keyed shuffle anywhere on the sketch path; map-side
    combine collapses each partition to ≤1024 rows before the one
    exchange. Per-day/per-source sketches merge by cell-wise addition
    (contrast Misra-Gries ``heavy_hitters_mg``, which keeps candidates,
    not cells). The exact per-word ``groupBy`` below exists ONLY because
    this query's contract reports exact_n/overcount for the 20 probe
    words — a pure-sketch deployment would drop it (and with it the only
    word-keyed shuffle), at the cost of a second corpus scan here.

    Determinism: cells and estimates are exact int64 sums; probe pick
    and output order tiebreak on the word itself."""
    from bigdata_2025_1_spark.functions import text as T
    from bigdata_2025_1_spark.io import spread

    docs = spread(load(spark, sf_dir, "documents"))
    tokens = docs.select(F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("word"))
    hrows = F.array(*[F.lit(d) for d in range(CMS_DEPTH)])
    bucket_of = _cms_bucket
    cms = cms_cells(tokens)
    counts = tokens.groupBy("word").agg(F.count("*").alias("n"))
    probes = counts.orderBy(F.desc("n"), "word").limit(CMS_PROBES)
    probed = probes.select(
        "word", "n", F.explode(hrows).alias("hrow")
    ).select("word", "n", "hrow", bucket_of(F.col("hrow"), F.col("word")).alias("bucket"))
    return (
        probed.join(F.broadcast(cms), ["hrow", "bucket"])
        .groupBy("word", "n")
        .agg(F.min("cell").alias("cms_est"))
        .select(
            "word",
            F.col("n").alias("exact_n"),
            "cms_est",
            (F.col("cms_est") - F.col("n")).alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), "word")
    )


@query(
    "join_key_skew_profile",
    oracle="""
    WITH freq AS (
      SELECT o_custkey AS key, COUNT(*) AS n FROM orders GROUP BY o_custkey
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(n) AS BIGINT) AS total_rows,
             CAST(MAX(n) AS BIGINT) AS max_freq
      FROM freq
    ), tail AS (
      SELECT CAST(MIN(n) AS BIGINT) AS p99_freq
      FROM (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rk,
                   COUNT(*) OVER () AS nk
            FROM freq)
      WHERE rk * 100 <= nk
    )
    SELECT s.n_keys, s.total_rows, s.max_freq,
           COALESCE(t.p99_freq, s.max_freq) AS p99_freq,
           100 * s.max_freq * s.n_keys > 300 * s.total_rows AS skewed
    FROM stats s, tail t
    """,
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler — the diagnostic a pipeline runs BEFORE
    choosing between a plain shuffle join, AQE skew handling, and manual
    salting (the repo's salted_skew_join recipe): per-key frequency
    histogram of the fact side's join key collapsed to n_keys /
    total_rows / max_freq / p99_freq, plus an integer-exact skew verdict
    (max > 3× the mean spelled as 100·max·n_keys > 300·total — no float
    division crosses engines).

    Scale shape: ONE aggregation keyed by the join key itself (the same
    shuffle the real join would do, but carrying only counts); the p99
    cut then runs over the DISTINCT frequency-value domain (bounded by
    the maximum multiplicity, orders of magnitude below key count — the
    equi_depth_price_deciles pattern; exact because the rank-K minimum
    inside a tie group is the group's value however the tie is split).
    At 100 TB you run this on a sample partition or sketch (CMS gives
    max_freq bounds) — the exact form is the correctness anchor."""
    orders = load(spark, sf_dir, "orders")
    freq = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").alias("n")
    )
    stats = freq.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("total_rows"),
        F.max("n").alias("max_freq"),
    )
    vals = freq.groupBy("n").agg(F.count("*").alias("c"))
    cum = cum_counts_over_values(vals, "n", count_col="c", out_col="cb", descending=True)
    nk = freq.agg(F.count("*").alias("nk"))
    # the value group containing desc-rank K = nk div 100 (empty when
    # K = 0 → NULL → coalesced to max_freq, matching the oracle)
    tail = (
        cum.crossJoin(F.broadcast(nk))
        .filter(
            (F.col("cb") < F.expr("nk div 100"))
            & (F.col("cb") + F.col("c") >= F.expr("nk div 100"))
        )
        .agg(F.min("n").alias("t_p99"))
    )
    return stats.crossJoin(F.broadcast(tail)).select(
        "n_keys",
        "total_rows",
        "max_freq",
        F.coalesce(F.col("t_p99"), F.col("max_freq")).alias("p99_freq"),
        (100 * F.col("max_freq") * F.col("n_keys") > 300 * F.col("total_rows")).alias(
            "skewed"
        ),
    )


@query(
    "hll_union_distinct",
    oracle="""
    WITH shards AS (
      SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS exact_n
      FROM orders GROUP BY o_orderpriority
    )
    SELECT CAST((SELECT COUNT(*) FROM shards) AS BIGINT) AS n_shards,
           CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders) AS BIGINT) AS exact_global,
           TRUE AS global_within_tol,
           TRUE AS shards_all_within_tol
    """,
)
def hll_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE cardinality sketches (Spark 4 Datasketches HLL): each
    priority shard builds its own ``hll_sketch_agg`` of customer keys;
    ``hll_union_agg`` merges the shard sketches and the global estimate
    comes from the UNION, never from re-scanning raw data — the
    per-day/per-source rollup shape every 100 TB distinct-count pipeline
    uses (completes the mergeable-summary family: quantile sketches, CMS
    cells, Misra-Gries candidates, and now HLL).

    Sketch bytes are engine-specific, so the checkable contract is the
    tolerance verdict (|est − exact| / exact ≤ 5%) for the union AND for
    every shard — emitted as booleans the oracle mirrors, with exact
    counts computed on both engines (same pattern as
    ``approx_distinct_counts``)."""
    from bigdata_2025_1_spark.functions.exact import within_tol

    o = load(spark, sf_dir, "orders")
    shards = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count_distinct("o_custkey").alias("exact_n"),
    )
    shard_ok = shards.select(
        within_tol(F.hll_sketch_estimate("sk").cast("bigint"), F.col("exact_n")).alias(
            "ok"
        )
    ).agg(
        # every() over ZERO rows is NULL; empty input is vacuously true
        # (matching the oracle's constant TRUE on an empty shard set)
        F.coalesce(F.every("ok"), F.lit(True)).alias("shards_all_within_tol")
    )
    merged = shards.agg(
        F.count("*").alias("n_shards"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias("union_est"),
    )
    exact_g = o.agg(F.count_distinct("o_custkey").alias("exact_global"))
    return (
        merged.crossJoin(F.broadcast(exact_g))
        .crossJoin(F.broadcast(shard_ok))
        .select(
            "n_shards",
            "exact_global",
            within_tol("union_est", "exact_global").alias("global_within_tol"),
            "shards_all_within_tol",
        )
    )


N_DECILES = 10


@query(
    "equi_depth_price_deciles",
    oracle=f"""
    WITH vals AS (
      SELECT CAST(ROUND(o_totalprice * 1e2) AS BIGINT) AS cents, COUNT(*) AS c
      FROM orders GROUP BY cents
    ), total AS (
      SELECT SUM(c) AS n FROM vals
    ), cum AS (
      SELECT cents, c,
             COALESCE(SUM(c) OVER (ORDER BY cents
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM vals
    ), bucketed AS (
      SELECT CAST(cum_before * {N_DECILES} // (SELECT n FROM total) AS INT) AS bucket,
             cents, c
      FROM cum
    )
    SELECT bucket,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           MIN(cents)::DOUBLE / 1e2 AS lo,
           MAX(cents)::DOUBLE / 1e2 AS hi,
           CAST(SUM(cents * c) AS BIGINT)::DOUBLE / 1e2 AS total_value
    FROM bucketed GROUP BY bucket
    ORDER BY bucket
    """,
)
def equi_depth_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) decile histogram of order value, the
    tie-safe way: rows collapse to DISTINCT price points first, and a
    point lands in bucket ``floor(cum_before·10/N)`` (cum_before = rows
    strictly below it) — so tied values always share one bucket and the
    result is a pure function of the value distribution.

    Deliberately NOT ``ntile(10)``: ntile needs a per-ROW global rank —
    a total sort funneled through one window partition, the classic
    does-not-survive-100× shape — and splits ties by an arbitrary
    tiebreak. Here the only global window runs over the DISTINCT value
    domain (bounded by price granularity, orders of magnitude smaller
    than the row count — cents domains stay ~1e5-1e6 forever), after a
    map-side-combinable groupBy(cents). For truly unbounded domains the
    same spec degrades gracefully via ``approx_percentiles`` boundaries.

    All-integer: counts, cum sums, and floor-div bucket ids; the /1e2
    unscaling is one double division per output cell."""
    orders = load(spark, sf_dir, "orders")
    vals = orders.groupBy(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    ).agg(F.count("*").alias("c"))
    total = vals.agg(F.sum("c").alias("n"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = vals.withColumn("cum_before", F.coalesce(F.sum("c").over(w), F.lit(0)))
    bucketed = cum.crossJoin(F.broadcast(total)).select(
        F.expr(f"CAST(cum_before * {N_DECILES} div n AS INT)").alias("bucket"),
        "cents",
        "c",
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.sum("c").alias("n_rows"),
            F.count("*").alias("n_values"),
            (F.min("cents").cast("double") / 100).alias("lo"),
            (F.max("cents").cast("double") / 100).alias("hi"),
            (F.sum(F.col("cents") * F.col("c")).cast("double") / 100).alias("total_value"),
        )
        .orderBy("bucket")
    )


# 3 sigma-equivalents under normality: 3 x 1.4826 = 4.4478; the integer
# comparison dev * 10000 > 44478 * mad avoids any float threshold.
MAD_THRESH_NUM = 44478
MAD_THRESH_DEN = 10000


@query(
    "mad_value_outliers",
    oracle=f"""
    WITH base AS (
      SELECT event_type, event_id,
             CAST(ROUND(value * 1e2) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY CAST(ROUND(value * 1e2) AS BIGINT),
                                         event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), med AS (
      SELECT event_type, cents AS med_cents FROM base WHERE rn = (n + 1) // 2
    ), dev AS (
      SELECT b.event_type, b.event_id, b.n, m.med_cents,
             ABS(b.cents - m.med_cents) AS dev,
             ROW_NUMBER() OVER (PARTITION BY b.event_type
                                ORDER BY ABS(b.cents - m.med_cents), b.event_id) AS rn2
      FROM base b JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, dev AS mad_cents FROM dev WHERE rn2 = (n + 1) // 2
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(d.med_cents)::DOUBLE / 1e2 AS median,
           MIN(a.mad_cents)::DOUBLE / 1e2 AS mad,
           CAST(SUM(CASE WHEN d.dev * {MAD_THRESH_DEN} > {MAD_THRESH_NUM} * a.mad_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
)
def mad_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type via the median absolute
    deviation: flag events whose |value − median| exceeds 4.4478·MAD
    (the 3σ equivalent under normality, 3·1.4826). Median and MAD resist
    the very outliers a mean/stddev z-score lets poison its own
    threshold (``zscore_outliers`` is the classical twin); the events
    value column is heavy-tailed, so the two flag different row sets.

    Exactness: both medians are LOWER medians — the value at rank
    ⌊(n+1)/2⌋ under a total (value, key) order — selected by row_number,
    never interpolated, so every quantity is integer cents and the
    outlier test is an integer cross-multiplication. No FP agreement
    between engines is assumed anywhere (the winsorized query documents
    why interpolated percentiles cannot promise that).

    Scale shape: two windows and the final agg all partition by the
    SAME key (event_type), so Catalyst reuses one exchange; median
    lookup tables are per-group single rows, broadcast back. Exact
    medians at 100 TB pay one sort per group per pass by definition —
    swap in the quantile-sketch median (``quantile_sketch_merge``) when
    rank exactness stops being the contract."""
    events = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w_ord = Window.partitionBy("event_type").orderBy("cents", "event_id")
    w_cnt = Window.partitionBy("event_type")
    base = (
        events.select("event_type", "event_id", cents.alias("cents"))
        .withColumn("rn", F.row_number().over(w_ord))
        .withColumn("n", F.count("*").over(w_cnt))
    )
    med = base.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("cents").alias("med_cents")
    )
    w_dev = Window.partitionBy("event_type").orderBy("dev", "event_id")
    dev = (
        base.join(F.broadcast(med), "event_type")
        .withColumn("dev", F.abs(F.col("cents") - F.col("med_cents")))
        .withColumn("rn2", F.row_number().over(w_dev))
    )
    mad = dev.filter(F.col("rn2") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("dev").alias("mad_cents")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (F.min("med_cents").cast("double") / 100).alias("median"),
            (F.min("mad_cents").cast("double") / 100).alias("mad"),
            F.sum(
                F.when(
                    F.col("dev") * MAD_THRESH_DEN > MAD_THRESH_NUM * F.col("mad_cents"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@query(
    "linreg_price_model",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(ROUND(l_quantity * 1e2) AS BIGINT)) AS s1,
             SUM(CAST(ROUND(l_discount * 1e4) AS BIGINT)) AS s2,
             SUM(CAST(ROUND(l_extendedprice * 1e2) AS BIGINT)) AS sy,
             SUM(CAST(ROUND(l_quantity * 1e2) AS BIGINT) * CAST(ROUND(l_quantity * 1e2) AS BIGINT)) AS s11,
             SUM(CAST(ROUND(l_quantity * 1e2) AS BIGINT) * CAST(ROUND(l_discount * 1e4) AS BIGINT)) AS s12,
             SUM(CAST(ROUND(l_discount * 1e4) AS BIGINT) * CAST(ROUND(l_discount * 1e4) AS BIGINT)) AS s22,
             SUM(CAST(ROUND(l_quantity * 1e2) AS BIGINT) * CAST(ROUND(l_extendedprice * 1e2) AS BIGINT)) AS s1y,
             SUM(CAST(ROUND(l_discount * 1e4) AS BIGINT) * CAST(ROUND(l_extendedprice * 1e2) AS BIGINT)) AS s2y,
             SUM(CAST(ROUND(l_extendedprice * 1e2) AS BIGINT) * CAST(ROUND(l_extendedprice * 1e2) AS BIGINT)) AS syy
      FROM lineitem GROUP BY l_returnflag
    ), d AS (
      SELECT l_returnflag, n::DOUBLE AS n, s1::DOUBLE AS s1, s2::DOUBLE AS s2,
             sy::DOUBLE AS sy, s11::DOUBLE AS s11, s12::DOUBLE AS s12,
             s22::DOUBLE AS s22, s1y::DOUBLE AS s1y, s2y::DOUBLE AS s2y,
             syy::DOUBLE AS syy
      FROM m
    ), solved AS (
      SELECT l_returnflag, n, sy, syy,
             n * (s11 * s22 - s12 * s12)
               - s1 * (s1 * s22 - s12 * s2)
               + s2 * (s1 * s12 - s11 * s2) AS det,
             sy * (s11 * s22 - s12 * s12)
               - s1 * (s1y * s22 - s12 * s2y)
               + s2 * (s1y * s12 - s11 * s2y) AS det0,
             n * (s1y * s22 - s12 * s2y)
               - sy * (s1 * s22 - s12 * s2)
               + s2 * (s1 * s2y - s1y * s2) AS det1,
             n * (s11 * s2y - s1y * s12)
               - s1 * (s1 * s2y - s1y * s2)
               + sy * (s1 * s12 - s11 * s2) AS det2,
             s1y, s2y, s1, s2
      FROM d
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND(det0 / det, 6) AS b0,
           ROUND(det1 / det, 6) AS b1,
           ROUND(det2 / det, 6) AS b2,
           ROUND(1 - (syy - (det0 / det) * sy - (det1 / det) * s1y - (det2 / det) * s2y)
                     / (syy - sy * sy / n), 9) AS r2
    FROM solved
    ORDER BY l_returnflag
    """,
)
def linreg_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature least squares (extended price ~ quantity + discount,
    per return flag) solved in closed form by Cramer's rule on the 3x3
    normal equations — the "ML fit = one aggregation pass" shape: 100 TB
    collapses to 10 exact moment sums per group in a single map-side-
    combinable aggregate, and the solve is arithmetic on those scalars.
    (``stats_regression`` is the single-feature twin; MLlib's iterative
    solvers take over when features stop fitting a closed form.)

    Determinism: moments are exact int64/decimal sums of scaled ints;
    both engines cast the SAME exact wide-integer value to double
    (identical IEEE rounding) and then run the SAME chain of +,-,*,/ —
    no libm, so results are bit-identical before the 6 dp presentation
    rounding. R² uses the regression-SS identity on the same sums."""
    li = load(spark, sf_dir, "lineitem")
    x1 = F.round(F.col("l_quantity") * 100).cast("bigint")
    x2 = F.round(F.col("l_discount") * 10000).cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    dec = "decimal(38,0)"
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("ni"),
        F.sum(x1).alias("s1i"),
        F.sum(x2).alias("s2i"),
        F.sum(y).alias("syi"),
        F.sum((x1 * x1).cast(dec)).alias("s11i"),
        F.sum((x1 * x2).cast(dec)).alias("s12i"),
        F.sum((x2 * x2).cast(dec)).alias("s22i"),
        F.sum((x1 * y).cast(dec)).alias("s1yi"),
        F.sum((x2 * y).cast(dec)).alias("s2yi"),
        F.sum((y * y).cast(dec)).alias("syyi"),
    )
    d = m.select(
        "l_returnflag",
        *[
            F.col(c + "i").cast("double").alias(c)
            for c in ("n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y", "syy")
        ],
    )
    n, s1, s2, sy = F.col("n"), F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y, syy = F.col("s1y"), F.col("s2y"), F.col("syy")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    b0, b1, b2 = det0 / det, det1 / det, det2 / det
    r2 = 1 - (syy - b0 * sy - b1 * s1y - b2 * s2y) / (syy - sy * sy / n)
    return d.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(b0, 6).alias("b0"),
        F.round(b1, 6).alias("b1"),
        F.round(b2, 6).alias("b2"),
        F.round(r2, 9).alias("r2"),
    ).orderBy("l_returnflag")


# candidate functional dependencies to audit (determinant -> dependent)
FD_CANDIDATES = (
    ("o_custkey", "o_orderpriority"),
    ("o_orderkey", "o_orderstatus"),
    ("o_orderpriority", "o_orderstatus"),
)


def _fd_sql(det: str, dep: str) -> str:
    return f"""
    SELECT '{det}' AS determinant, '{dep}' AS dependent,
           CAST(COUNT(DISTINCT {det}) AS BIGINT) AS n_keys,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) - COUNT(DISTINCT {det}) AS BIGINT) AS n_violating_keys,
           (COUNT(*) = COUNT(DISTINCT {det})) AS holds
    FROM (SELECT DISTINCT {det}, {dep} FROM orders)
    """


@query(
    "functional_dependency_profile",
    oracle=" UNION ALL ".join(_fd_sql(d, p) for d, p in FD_CANDIDATES)
    + " ORDER BY determinant, dependent",
)
def functional_dependency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: does column A determine column B?
    FD holds iff |distinct(A)| = |distinct(A,B)|; the violation count is
    the number of EXTRA (A,B) combinations beyond one-per-key. The
    schema-discovery/data-quality profiler behind normalization checks
    and key candidate detection (o_orderkey→o_orderstatus should hold;
    o_custkey→o_orderpriority should not).

    Determinism: pure integer distinct counts.

    Scale shape: per candidate FD, one DISTINCT projection (map-side
    partial) and two counts over it; candidates evaluate independently
    and union — each is its own narrow aggregate, no wide row ever
    shuffles."""
    orders = load(spark, sf_dir, "orders")
    outs = []
    for det, dep in FD_CANDIDATES:
        pairs = orders.select(det, dep).distinct()
        outs.append(
            pairs.agg(
                F.count_distinct(det).alias("n_keys"),
                F.count("*").alias("n_pairs"),
            ).select(
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                "n_keys",
                "n_pairs",
                (F.col("n_pairs") - F.col("n_keys")).alias("n_violating_keys"),
                (F.col("n_pairs") == F.col("n_keys")).alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("determinant", "dependent")


LATENCY_PCTS = (50, 90, 99)


@query(
    "shipping_latency_percentiles",
    oracle=f"""
    WITH lat AS (
      SELECT o.o_orderpriority AS priority,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS days,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), ranked AS (
      SELECT priority, days,
             ROW_NUMBER() OVER (PARTITION BY priority
                                ORDER BY days, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM lat
    )
    SELECT priority,
           CAST(MAX(n) AS BIGINT) AS n,
           {", ".join(f"CAST(MAX(CASE WHEN rn = (n * {p} + 99) // 100 THEN days END) AS BIGINT) AS p{p}" for p in LATENCY_PCTS)}
    FROM ranked GROUP BY priority
    ORDER BY priority
    """,
)
def shipping_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of days-to-ship per order priority by RANK
    SELECTION (value at row ⌈n·p/100⌉ of the total (days, key) order —
    the nearest-rank percentile definition): integer in, integer out,
    no interpolation, so the SLA numbers are engine- and
    partitioning-exact. ``order_value_percentiles``/
    ``approx_percentiles`` are the interpolated/sketched cousins; this
    is the one whose p99 you can put in a contract.

    Scale shape: one fact-fact join on the order key, then one
    priority-partitioned sort serving the rank window and one aggregate
    — same single-exchange family as the MAD query. Exact percentiles
    price one sort per group by definition; the sketch is the
    documented relaxation."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    lat = li.join(orders, F.col("o_orderkey") == F.col("l_orderkey")).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("bigint").alias("days"),
        "l_orderkey",
        "l_linenumber",
    )
    w_ord = Window.partitionBy("priority").orderBy("days", "l_orderkey", "l_linenumber")
    w_cnt = Window.partitionBy("priority")
    ranked = lat.withColumn("rn", F.row_number().over(w_ord)).withColumn(
        "n", F.count("*").over(w_cnt)
    )
    aggs = [F.max("n").alias("n")] + [
        F.max(
            F.when(F.col("rn") == F.expr(f"(n * {p} + 99) div 100"), F.col("days"))
        ).alias(f"p{p}")
        for p in LATENCY_PCTS
    ]
    return ranked.groupBy("priority").agg(*aggs).orderBy("priority")


# Candidate partition columns for the layout advisor (orders table).
# ONE structure drives BOTH engines: each candidate's expression is an
# ANSI fragment that DuckDB runs verbatim in the oracle and Spark parses
# via F.expr — no hand-synchronized twin dict to drift.
PARTITION_CANDIDATES = (
    ("o_orderpriority", "o_orderpriority"),
    ("o_orderstatus", "o_orderstatus"),
    ("order_month", "EXTRACT(YEAR FROM o_orderdate) * 100 + EXTRACT(MONTH FROM o_orderdate)"),
    ("o_custkey", "o_custkey"),
)


def _advisor_sql(name: str, expr: str) -> str:
    return f"""
    SELECT '{name}' AS candidate,
           CAST(n_values AS BIGINT) AS n_values,
           CAST(max_rows AS BIGINT) AS max_partition_rows,
           CAST(total AS BIGINT) AS total_rows,
           (n_values BETWEEN 4 AND 10000 AND max_rows * 100 <= 40 * total) AS recommended
    FROM (
      SELECT COUNT(*) AS n_values, MAX(c) AS max_rows, SUM(c) AS total
      FROM (SELECT {expr} AS v, COUNT(*) AS c FROM orders GROUP BY v)
    )"""


@query(
    "partition_key_advisor",
    oracle=" UNION ALL ".join(_advisor_sql(n, e) for n, e in PARTITION_CANDIDATES)
    + " ORDER BY candidate",
)
def partition_key_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout advisor: for each candidate partition column of the orders
    table, its value cardinality and worst-partition share, and an
    integer-rule verdict (4 ≤ cardinality ≤ 10k AND max partition ≤ 40%
    of rows) — the two failure modes of physical partitioning are
    exactly too-many-tiny-files (high cardinality: o_custkey) and
    skewed-giant-partitions (low cardinality with a dominant value),
    and this table catches both before a 100 TB rewrite
    (``join_key_skew_profile`` is the join-side sibling;
    ``tests/test_zorder_layout.py`` proves what a good layout buys).

    Determinism: counts and an integer cross-multiplied share rule.

    Scale shape: one map-side-combinable groupBy per candidate over its
    own value domain, collapsed to a 3-number summary before the union."""
    orders = load(spark, sf_dir, "orders")
    outs = []
    for name, expr in PARTITION_CANDIDATES:
        # the SAME ANSI fragment the oracle runs, parsed by Catalyst
        per_val = orders.groupBy(F.expr(expr).alias("v")).agg(F.count("*").alias("c"))
        outs.append(
            per_val.agg(
                F.count("*").alias("n_values"),
                F.max("c").alias("max_partition_rows"),
                F.sum("c").alias("total_rows"),
            ).select(
                F.lit(name).alias("candidate"),
                "n_values",
                "max_partition_rows",
                "total_rows",
                (
                    F.col("n_values").between(4, 10000)
                    & (F.col("max_partition_rows") * 100 <= 40 * F.col("total_rows"))
                ).alias("recommended"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("candidate")


@query(
    "customer_spend_gini",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
             COUNT(*) OVER () AS n
      FROM spend
    ), sums AS (
      SELECT MAX(n) AS n,
             SUM(i * cents) AS weighted,
             SUM(cents) AS total
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(total AS BIGINT) AS total_cents,
           (2e0 * CAST(weighted AS BIGINT)::DOUBLE / n / CAST(total AS BIGINT))
             - (n + 1e0) / n AS gini
    FROM sums
    """,
)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend concentration — the inequality
    scalar behind "the top x% drive y% of revenue" (``parts_abc_pareto``
    gives the banded view; this is the single comparable-over-time
    number). Computed by the rank-weighted identity
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over spend sorted ascending.

    Determinism: the rank weighting is exact integer arithmetic
    (Σ i·cents, i from a (cents, custkey) total order — ties in cents
    contribute the same Σi whatever their internal order, so the
    tiebreak is for rank stability, not the result); the final value is
    one fixed double chain on exact ints.

    Scale shape: a custkey aggregate collapses the fact table, then the
    rank over the customer-sized result is DISTRIBUTED
    (``with_global_rank``: range-repartition + partition-local numbering
    + offset join — no single-partition window even when customers reach
    fact-table cardinality) feeding a 3-number reduce. The int64 bound
    Σ i·cents < 2⁶³ holds to ~10⁸ customers at these magnitudes —
    beyond that the same sums run in decimal(38) (documented, loud)."""
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    ranked = with_global_rank(spend, ["cents", "o_custkey"], "i")
    sums = ranked.agg(
        # NULL (not 0) on empty input — the oracle's MAX(n) over zero
        # rows is NULL and the empty-tables suite pins the match
        F.when(F.count("*") > 0, F.count("*")).alias("n"),
        F.sum(F.col("i") * F.col("cents")).alias("weighted"),
        F.sum("cents").alias("total"),
    )
    gini = (
        F.lit(2.0) * F.col("weighted").cast("double") / F.col("n") / F.col("total")
    ) - (F.col("n") + F.lit(1.0)) / F.col("n")
    return sums.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("total").alias("total_cents"),
        gini.alias("gini"),
    )


# --- column-pair mutual information (feature-dependency profiler) --------

_MI_MONTH_SQL = "CAST(strftime(o_orderdate, '%m') AS INT)"
_MI_PAIRS_SQL = f"""
      SELECT 'priority_month' AS pair, o_orderpriority AS x,
             CAST({_MI_MONTH_SQL} AS VARCHAR) AS y FROM orders
      UNION ALL
      SELECT 'status_month' AS pair, o_orderstatus AS x,
             CAST({_MI_MONTH_SQL} AS VARCHAR) AS y FROM orders
      UNION ALL
      SELECT 'status_priority' AS pair, o_orderstatus AS x,
             o_orderpriority AS y FROM orders
"""


@query(
    "column_mutual_information",
    oracle=f"""
    WITH melted AS ({_MI_PAIRS_SQL}
    ), cells AS (
      SELECT pair, x, y, COUNT(*) AS c_xy FROM melted GROUP BY pair, x, y
    ), mx AS (
      SELECT pair, x, SUM(c_xy) AS c_x FROM cells GROUP BY pair, x
    ), my AS (
      SELECT pair, y, SUM(c_xy) AS c_y FROM cells GROUP BY pair, y
    ), nn AS (
      SELECT pair, SUM(c_xy) AS n FROM cells GROUP BY pair
    ), mi AS (
      SELECT c.pair,
             COUNT(*) AS n_cells,
             SUM(c.c_xy * CAST(ROUND(ln(c.c_xy::DOUBLE * nn.n
                                        / (mx.c_x::DOUBLE * my.c_y)) * 1e6)
                               AS BIGINT)) AS mi_w_i6
      FROM cells c
      JOIN mx ON mx.pair = c.pair AND mx.x = c.x
      JOIN my ON my.pair = c.pair AND my.y = c.y
      JOIN nn ON nn.pair = c.pair
      GROUP BY c.pair
    ), hx AS (
      SELECT mx.pair,
             -SUM(mx.c_x * CAST(ROUND(ln(mx.c_x::DOUBLE / nn.n) * 1e6)
                                AS BIGINT)) AS hx_w_i6
      FROM mx JOIN nn ON nn.pair = mx.pair GROUP BY mx.pair
    ), hy AS (
      SELECT my.pair,
             -SUM(my.c_y * CAST(ROUND(ln(my.c_y::DOUBLE / nn.n) * 1e6)
                                AS BIGINT)) AS hy_w_i6
      FROM my JOIN nn ON nn.pair = my.pair GROUP BY my.pair
    )
    SELECT mi.pair, CAST(mi.n_cells AS BIGINT) AS n_cells,
           mi.mi_w_i6::DOUBLE / nn.n / 1e6 AS mi_nats,
           hx.hx_w_i6::DOUBLE / nn.n / 1e6 AS h_x,
           hy.hy_w_i6::DOUBLE / nn.n / 1e6 AS h_y,
           CASE WHEN least(hx.hx_w_i6, hy.hy_w_i6) > 0
                THEN mi.mi_w_i6::DOUBLE / least(hx.hx_w_i6, hy.hy_w_i6)
           END AS nmi
    FROM mi
    JOIN nn USING (pair) JOIN hx USING (pair) JOIN hy USING (pair)
    ORDER BY pair
    """,
)
def column_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pair mutual information / entropy profiler (the
    feature-selection and FD-discovery signal: NMI→1 means one column
    determines the other — redundant feature or denormalization;
    NMI→0 means independent): MI(X;Y), H(X), H(Y) and normalized MI for
    three orders column pairs (status×priority and each × order month).

    Determinism: all probabilities stay as integer COUNTS; each
    contingency/marginal cell contributes ``count · round(ln(ratio)·1e6)``
    — an exact int64 product summed exactly — and the single divide by N
    happens once at the end (same weighted-integer-ln contract as PMI).

    Scale shape: ONE table scan melted to (pair, x, y) rows; cell counts
    are a map-side-combinable groupBy whose output is contingency-table-
    sized (≤ |X|·|Y| per pair — tens of rows); marginals reduce the CELL
    table, never the row stream; everything downstream is broadcast-size.
    Adding a pair adds one struct to the melt array, not a scan."""
    orders = load(spark, sf_dir, "orders")
    month = F.month("o_orderdate").cast("string")
    melted = orders.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("priority_month").alias("pair"),
                    F.col("o_orderpriority").alias("x"),
                    month.alias("y"),
                ),
                F.struct(
                    F.lit("status_month").alias("pair"),
                    F.col("o_orderstatus").alias("x"),
                    month.alias("y"),
                ),
                F.struct(
                    F.lit("status_priority").alias("pair"),
                    F.col("o_orderstatus").alias("x"),
                    F.col("o_orderpriority").alias("y"),
                ),
            )
        ).alias("m")
    ).select("m.pair", "m.x", "m.y")
    cells = melted.groupBy("pair", "x", "y").agg(F.count("*").alias("c_xy"))
    mx = cells.groupBy("pair", "x").agg(F.sum("c_xy").alias("c_x"))
    my = cells.groupBy("pair", "y").agg(F.sum("c_xy").alias("c_y"))
    nn = cells.groupBy("pair").agg(F.sum("c_xy").alias("n"))

    def iln(ratio: Column) -> Column:
        return F.round(F.log(ratio) * F.lit(1e6)).cast("bigint")

    mi = (
        cells.join(mx, ["pair", "x"])
        .join(my, ["pair", "y"])
        .join(F.broadcast(nn), "pair")
        .groupBy("pair")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(
                F.col("c_xy")
                * iln(
                    F.col("c_xy").cast("double")
                    * F.col("n")
                    / (F.col("c_x").cast("double") * F.col("c_y"))
                )
            ).alias("mi_w_i6"),
        )
    )
    hx = (
        mx.join(F.broadcast(nn), "pair")
        .groupBy("pair")
        .agg((-F.sum(F.col("c_x") * iln(F.col("c_x").cast("double") / F.col("n")))).alias("hx_w_i6"))
    )
    hy = (
        my.join(F.broadcast(nn), "pair")
        .groupBy("pair")
        .agg((-F.sum(F.col("c_y") * iln(F.col("c_y").cast("double") / F.col("n")))).alias("hy_w_i6"))
    )
    return (
        mi.join(nn, "pair")
        .join(hx, "pair")
        .join(hy, "pair")
        .select(
            "pair",
            F.col("n_cells").cast("bigint").alias("n_cells"),
            (F.col("mi_w_i6").cast("double") / F.col("n") / F.lit(1e6)).alias("mi_nats"),
            (F.col("hx_w_i6").cast("double") / F.col("n") / F.lit(1e6)).alias("h_x"),
            (F.col("hy_w_i6").cast("double") / F.col("n") / F.lit(1e6)).alias("h_y"),
            # NULL (not a crash) when a column is constant: H = 0 makes
            # the NMI ratio undefined, and ANSI mode turns the bare
            # division into a job failure exactly there
            F.when(
                F.least("hx_w_i6", "hy_w_i6") > 0,
                F.col("mi_w_i6").cast("double") / F.least("hx_w_i6", "hy_w_i6"),
            ).alias("nmi"),
        )
        .orderBy("pair")
    )


# --- 2-D skyline (Pareto frontier) ---------------------------------------


@query(
    "skyline_price_size",
    oracle="""
    WITH pts AS (
      SELECT DISTINCT CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS sz
      FROM part
    )
    SELECT a.price_cents, a.sz AS size
    FROM pts a
    WHERE NOT EXISTS (
      SELECT 1 FROM pts b
      WHERE b.price_cents <= a.price_cents AND b.sz <= a.sz
        AND (b.price_cents < a.price_cents OR b.sz < a.sz)
    )
    ORDER BY a.price_cents
    """,
)
def skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier (minimize BOTH price and size — the
    dominance query behind any cost-vs-quality curation trade-off, e.g.
    "which quality-score/compute-cost operating points are undominated"):
    a point survives iff no other point is ≤ in both dimensions and <
    in at least one.

    The oracle states the O(n²) NOT-EXISTS definition; the engine runs
    the SWEEP instead: collapse to min-size per distinct price (the only
    possible survivor at each price), then one pass of the distributed
    exclusive prefix-min (``functions/ranks.py:with_prefix_min``) over
    ascending price — a point survives iff its size beats every
    cheaper point's size. Same rows, linear work.

    Determinism: prices as exact integer cents; sweep comparisons all
    int64; null prefix-min (the globally cheapest point) survives by
    definition.

    Scale shape: DISTINCT + min-per-price are map-side-combinable
    reductions to the value domain; the sweep is the range exchange, a
    hash exchange on the range-partition id for the partition-local
    running-min window, and a partition-count-sized broadcast (no
    single-partition window — the trap a row_number-over-global-order
    formulation would hit). Dimensions beyond 2 generalize by sweeping
    the first dimension and testing dominance in the rest against a
    broadcast frontier-so-far (block-nested loop over the FRONTIER, not
    the data)."""
    part = load(spark, sf_dir, "part")
    pts = part.select(
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
        F.col("p_size").cast("bigint").alias("sz"),
    ).distinct()
    best = pts.groupBy("price_cents").agg(F.min("sz").alias("sz"))
    swept = with_prefix_min(best, ["price_cents"], "sz", out_col="ahead_min")
    return (
        swept.filter(F.col("ahead_min").isNull() | (F.col("sz") < F.col("ahead_min")))
        .select("price_cents", F.col("sz").alias("size"))
        .orderBy("price_cents")
    )


# --- Benford first-digit audit -------------------------------------------

# Benford probabilities as shared 1e-6 integer literals (computed once in
# Python, inlined in BOTH engines — no cross-engine libm dependency, the
# _md5_pm1_matrix approach applied to constants)
_BENFORD_I6 = {
    d: round(math.log10(1 + 1 / d) * 1e6) for d in range(1, 10)
}
_SQL_BENFORD = (
    "(CASE digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_I6.items())
    + " END)"
)


@query(
    "benford_price_audit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders
      WHERE o_totalprice > 0
    ), obs AS (
      SELECT digit, COUNT(*) AS n_obs FROM digits GROUP BY digit
    ), tot AS (
      SELECT SUM(n_obs) AS n FROM obs
    )
    SELECT o.digit, CAST(o.n_obs AS BIGINT) AS n_obs,
           o.n_obs::DOUBLE / t.n AS obs_share,
           {_SQL_BENFORD}::DOUBLE / 1e6 AS benford_share,
           CAST(o.n_obs * 1000000 - t.n * {_SQL_BENFORD} AS BIGINT) AS dev_i6n
    FROM obs o CROSS JOIN tot t
    ORDER BY o.digit
    """,
)
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit over order totals —
    the classic fabricated-/synthetic-data smell test a data-quality
    gate runs on monetary columns: natural multiplicative amounts put
    ~30.1% of first digits at 1; uniform or hand-made data does not.
    ``dev_i6n`` is the exact integer deviation ``n_obs·1e6 − N·p_i6``
    (positive = overrepresented digit), comparable across digits
    without any float subtraction.

    Determinism: first digit via integer-cents → string (identical
    cast/substr in both engines — no log10 on data); the nine Benford
    probabilities are PYTHON-computed 1e-6 integer literals shared by
    both engines, so no libm call exists anywhere in the query.

    Scale shape: map-side-combinable 9-group count; everything after is
    nine rows. The digit extraction is a scan-local expression —
    pushdown-friendly, no shuffle beyond the 9-row exchange."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    obs = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n_obs")
    )
    tot = obs.agg(F.sum("n_obs").alias("n"))
    p_i6 = F.element_at(
        F.create_map(
            *[F.lit(x) for dp in _BENFORD_I6.items() for x in dp]
        ),
        F.col("digit"),
    ).cast("bigint")
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n_obs").cast("bigint").alias("n_obs"),
            (F.col("n_obs").cast("double") / F.col("n")).alias("obs_share"),
            (p_i6.cast("double") / F.lit(1e6)).alias("benford_share"),
            (F.col("n_obs") * F.lit(1000000) - F.col("n") * p_i6)
            .cast("bigint")
            .alias("dev_i6n"),
        )
        .orderBy("digit")
    )


# --- deterministic Poisson bootstrap -------------------------------------

BOOT_B = 32
# Poisson(1) CDF thresholds on the [0, 1e9) md5 residue — Python-computed
# integer literals shared by both engines (same zero-libm pattern as the
# Benford constants); counts capped at 4 (P(X>4) ≈ 0.37%)
_POIS_T = (367879441, 735758882, 919698603, 981011843)
_SQL_BOOT_W = (
    f"(CASE WHEN r < {_POIS_T[0]} THEN 0 WHEN r < {_POIS_T[1]} THEN 1 "
    f"WHEN r < {_POIS_T[2]} THEN 2 WHEN r < {_POIS_T[3]} THEN 3 ELSE 4 END)"
)
_SQL_BOOT_R = sql_md5_int(
    "CAST(o.o_orderkey AS VARCHAR) || ':' || CAST(b.b AS VARCHAR)"
)


@query(
    "bootstrap_mean_ci",
    oracle=f"""
    WITH reps AS (
      SELECT o.o_orderkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
             CAST(b.b AS INT) AS b,
             {_SQL_BOOT_R} % 1000000000 AS r
      FROM orders o CROSS JOIN range({BOOT_B}) b(b)
    ), w AS (
      SELECT b, cents, {_SQL_BOOT_W} AS w FROM reps
    ), agg AS (
      SELECT b, SUM(w) AS n_eff, SUM(w * cents) AS s_cents
      FROM w GROUP BY b
    )
    SELECT b, CAST(n_eff AS BIGINT) AS n_eff,
           CASE WHEN n_eff > 0
                THEN CAST(s_cents AS BIGINT)::DOUBLE / n_eff / 100
           END AS mean_value
    FROM agg
    ORDER BY b
    """,
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap of the mean order value (Chamandy
    et al. / Owen's online bootstrap — the ONLY bootstrap that works in
    one distributed pass: true resampling-without-replacement needs
    global coordination, Poisson(1) weights need none): every row draws
    an independent md5-derived Poisson(1) count per replicate; the 32
    replicate means ARE the sampling distribution — read any quantile
    spread off the result as the CI.

    Determinism: the Poisson inverse-CDF thresholds are Python-computed
    integer literals on the [0,1e9) md5 residue (no RNG, no libm in
    either engine — the Benford-constants pattern); replicate sums are
    exact int64.

    Scale shape: the explode is rows × 32 of (key, b) pairs feeding ONE
    map-side-combinable groupBy(b) — 32 partial cells per task, a 32-row
    exchange. At 100 TB the same query is a single scan; compare the
    all-pairs sort a classical resample would need. Weighted / per-group
    bootstraps change the aggregate, not the shape. spread() because the
    md5-per-(row, replicate) stage is compute-bound (measured 4.4 s → sub
    -second at sf0.1 once the single fixture split fans out)."""
    orders = spread(load(spark, sf_dir, "orders"))
    reps = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    ).select(
        "cents",
        F.col("b").cast("int").alias("b"),
        (
            # F.concat (not concat_ws): propagates NULL like the
            # oracle's `||` so the two derivations stay symmetric.
            # NOTE a NULL o_orderkey would land in the ELSE/otherwise(4)
            # arm on BOTH engines (r NULL -> all comparisons NULL) —
            # identical results, but weight 4; precondition: o_orderkey
            # is the non-null PK
            md5_int(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            )
            % 1000000000
        ).alias("r"),
    )
    w = (
        F.when(F.col("r") < _POIS_T[0], 0)
        .when(F.col("r") < _POIS_T[1], 1)
        .when(F.col("r") < _POIS_T[2], 2)
        .when(F.col("r") < _POIS_T[3], 3)
        .otherwise(4)
    )
    return (
        reps.select("b", "cents", w.alias("w"))
        .groupBy("b")
        .agg(F.sum("w").alias("n_eff"), F.sum(F.col("w") * F.col("cents")).alias("s_cents"))
        .select(
            "b",
            F.col("n_eff").cast("bigint").alias("n_eff"),
            # a replicate can draw weight 0 for EVERY row of a tiny
            # table (P ≈ 0.37 per replicate at n = 1) — NULL mean, not
            # an ANSI divide-by-zero failure
            F.when(
                F.col("n_eff") > 0,
                F.col("s_cents").cast("double") / F.col("n_eff") / F.lit(100),
            ).alias("mean_value"),
        )
        .orderBy("b")
    )


# --- CMS inner-product join-size estimation (AMS-style) -------------------


@query(
    "sketch_join_size_estimate",
    oracle=f"""
    WITH co AS MATERIALIZED (
      SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY o_custkey
    ), ce AS MATERIALIZED (
      SELECT user_id AS k, COUNT(*) AS n FROM events GROUP BY user_id
    ), cmso AS (
      SELECT hrow, substr(md5(hrow || ':' || k), 1, 2) AS bucket, SUM(n) AS cell
      FROM co CROSS JOIN {_CMS_ROWS_SQL} r GROUP BY hrow, bucket
    ), cmse AS (
      SELECT hrow, substr(md5(hrow || ':' || k), 1, 2) AS bucket, SUM(n) AS cell
      FROM ce CROSS JOIN {_CMS_ROWS_SQL} r GROUP BY hrow, bucket
    ), per_row AS (
      SELECT o.hrow, SUM(o.cell * e.cell) AS row_estimate
      FROM cmso o JOIN cmse e USING (hrow, bucket)
      GROUP BY o.hrow
    ), mn AS (
      SELECT MIN(row_estimate) AS cms_estimate FROM per_row
    ), ex AS (
      SELECT SUM(co.n * ce.n) AS exact_size FROM co JOIN ce USING (k)
    )
    SELECT CAST(p.hrow AS INT) AS hrow,
           CAST(p.row_estimate AS BIGINT) AS row_estimate,
           CAST(mn.cms_estimate AS BIGINT) AS cms_estimate,
           CAST(ex.exact_size AS BIGINT) AS exact_size,
           (mn.cms_estimate - ex.exact_size)::DOUBLE / ex.exact_size AS rel_err
    FROM per_row p CROSS JOIN mn CROSS JOIN ex
    ORDER BY hrow
    """,
)
def sketch_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from count-min sketches (the AMS/CM
    inner-product estimator, Alon-Matias-Szegedy 1996 / Cormode-
    Muthukrishnan 2005): |orders ⋈ events ON custkey = user_id| =
    Σ_k c_o(k)·c_e(k), estimated per hash row as the inner product of
    the two tables' CMS rows, taking the minimum across rows — the
    statistic a planner consults to size a join (or pick a broadcast
    side) WITHOUT touching either table again; the self-join case
    (both sketches from one column) is the classic F₂ moment. The query
    reports each row's estimate, the min, the exact answer and the
    relative error, so the sketch's overcount bias is measured, not
    assumed.

    Determinism: buckets are md5 hex-byte prefixes (identical in both
    engines); cells and inner products are pure int64 (cells bounded by
    table rows; products by |A|·|B| — at larger scales widen the bucket
    count, not the arithmetic).

    Scale shape: each sketch is a ≤ depth×256-cell map-side-combinable
    aggregate of its table's KEY COUNTS (never raw rows over the wire);
    the inner product joins two 1024-row summaries. The exact twin
    (for the audit) is one count-table equi-join. Sketches are
    mergeable across partitions/days exactly like
    ``count_min_sketch_words``'s cells."""
    co = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("n"))
    )
    ce = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count("*").alias("n"))
    )
    hrows = F.array(*[F.lit(d) for d in range(CMS_DEPTH)])

    def cms(counts: DataFrame) -> DataFrame:
        return (
            counts.select("k", "n", F.explode(hrows).alias("hrow"))
            .select(
                "hrow",
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("hrow").cast("string"),
                            F.lit(":"),
                            F.col("k").cast("string"),
                        )
                    ),
                    1,
                    2,
                ).alias("bucket"),
                "n",
            )
            .groupBy("hrow", "bucket")
            .agg(F.sum("n").alias("cell"))
        )
    per_row = (
        cms(co)
        .withColumnRenamed("cell", "cell_o")
        .join(cms(ce).withColumnRenamed("cell", "cell_e"), ["hrow", "bucket"])
        .groupBy("hrow")
        .agg(F.sum(F.col("cell_o") * F.col("cell_e")).alias("row_estimate"))
    )
    mn = per_row.agg(F.min("row_estimate").alias("cms_estimate"))
    ex = (
        co.withColumnRenamed("n", "n_o")
        .join(ce.withColumnRenamed("n", "n_e"), "k")
        .agg(F.sum(F.col("n_o") * F.col("n_e")).alias("exact_size"))
    )
    return (
        per_row.crossJoin(F.broadcast(mn))
        .crossJoin(F.broadcast(ex))
        .select(
            F.col("hrow").cast("int").alias("hrow"),
            F.col("row_estimate").cast("bigint").alias("row_estimate"),
            F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
            F.col("exact_size").cast("bigint").alias("exact_size"),
            (
                (F.col("cms_estimate") - F.col("exact_size")).cast("double")
                / F.col("exact_size")
            ).alias("rel_err"),
        )
        .orderBy("hrow")
    )


@query(
    "chi_square_independence",
    oracle="""
    WITH obs0 AS (
      SELECT o_orderpriority AS priority, o_orderstatus AS status,
             CAST(COUNT(*) AS BIGINT) AS observed
      FROM orders GROUP BY priority, status
    ), pr AS (SELECT DISTINCT o_orderpriority AS priority FROM orders),
       st AS (SELECT DISTINCT o_orderstatus AS status FROM orders),
       grid AS (
      SELECT p.priority, s.status, COALESCE(o.observed, 0) AS observed
      FROM pr p CROSS JOIN st s
      LEFT JOIN obs0 o ON o.priority = p.priority AND o.status = s.status
    ), rt AS (SELECT priority, SUM(observed) AS r FROM grid GROUP BY priority),
       ct AS (SELECT status, SUM(observed) AS c FROM grid GROUP BY status),
       nn AS (SELECT SUM(observed) AS n FROM grid),
       cells AS (
      SELECT g.priority, g.status, g.observed, r.r, c.c, nn.n,
             g.observed * nn.n - r.r * c.c AS d
      FROM grid g
      JOIN rt r ON r.priority = g.priority
      JOIN ct c ON c.status = g.status
      CROSS JOIN nn
    ), scored AS (
      SELECT priority, status, observed,
             r::DOUBLE * c / n AS expected,
             CAST(ROUND(d::DOUBLE * d / n / r / c * 1e6) AS BIGINT) AS contrib_i6
      FROM cells
    ), tot AS (
      SELECT CAST(SUM(contrib_i6) AS BIGINT) AS chi2_i6 FROM scored
    ), dofs AS (
      SELECT CAST(((SELECT COUNT(*) FROM pr) - 1)
                  * ((SELECT COUNT(*) FROM st) - 1) AS INT) AS dof
    )
    SELECT s.priority, s.status, s.observed, s.expected,
           s.contrib_i6::DOUBLE / 1e6 AS contrib,
           t.chi2_i6::DOUBLE / 1e6 AS chi2,
           d.dof
    FROM scored s CROSS JOIN tot t CROSS JOIN dofs d
    ORDER BY s.priority, s.status
    """,
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between order priority and
    order status: the full R x S contingency grid (zero-observed cells
    included), each cell's contribution (obs - exp)^2 / exp, the statistic
    and its degrees of freedom on every row. The per-column profiling
    sibling of ``column_mutual_information`` — chi-square is the
    classical categorical-association screen a data-quality pass runs.

    Determinism: counts are integers; the deviation d = obs*N - r*c is
    int64-exact (obs*N <= N^2 = 2.25e18 < 2^63 even at 1.5e9 orders); the
    contribution is ONE pinned chain of double ops (d*d, /N, /r, /c)
    rounded once to 6 dp, and the statistic sums those INTEGERS.

    Scale shape: one map-side-combinable groupBy over the fact table
    collapses 100 TB to <= R*S cells; everything after (margins, grid,
    statistic) is arithmetic on that provably tiny aggregate with
    broadcast margins; dof is computed declaratively in the same plan."""
    orders = load(spark, sf_dir, "orders")
    obs0 = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count("*").alias("observed"))
    pr = orders.select(F.col("o_orderpriority").alias("priority")).distinct()
    st = orders.select(F.col("o_orderstatus").alias("status")).distinct()
    grid = (
        pr.crossJoin(F.broadcast(st))
        .join(F.broadcast(obs0), ["priority", "status"], "left")
        .select(
            "priority",
            "status",
            F.coalesce(F.col("observed"), F.lit(0)).cast("bigint").alias("observed"),
        )
    )
    rt = grid.groupBy("priority").agg(F.sum("observed").alias("r"))
    ct = grid.groupBy("status").agg(F.sum("observed").alias("c"))
    nn = grid.agg(F.sum("observed").alias("n"))
    d = F.col("observed") * F.col("n") - F.col("r") * F.col("c")
    scored = (
        grid.join(F.broadcast(rt), "priority")
        .join(F.broadcast(ct), "status")
        .crossJoin(F.broadcast(nn))
        .select(
            "priority",
            "status",
            "observed",
            (F.col("r").cast("double") * F.col("c") / F.col("n")).alias("expected"),
            F.round(
                d.cast("double") * d / F.col("n") / F.col("r") / F.col("c") * F.lit(1e6)
            )
            .cast("bigint")
            .alias("contrib_i6"),
        )
    )
    tot = scored.agg(F.sum("contrib_i6").alias("chi2_i6"))
    dofs = (
        pr.agg(F.count("*").alias("np"))
        .crossJoin(st.agg(F.count("*").alias("ns")))
        .select(((F.col("np") - 1) * (F.col("ns") - 1)).cast("int").alias("dof"))
    )
    return (
        scored.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(dofs))
        .select(
            "priority",
            "status",
            "observed",
            "expected",
            (F.col("contrib_i6").cast("double") / F.lit(1e6)).alias("contrib"),
            (F.col("chi2_i6").cast("double") / F.lit(1e6)).alias("chi2"),
            "dof",
        )
        .orderBy("priority", "status")
    )


@query(
    "theil_sen_trend",
    oracle="""
    WITH monthly AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS m,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS rev_c
      FROM orders GROUP BY m
    ), pairs AS (
      SELECT b.rev_c - a.rev_c AS num, b.m - a.m AS den,
             (b.rev_c - a.rev_c)::DOUBLE / (b.m - a.m) AS slope_d
      FROM monthly a JOIN monthly b ON a.m < b.m
    ), np AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs
    ), slope AS (
      SELECT p.num, p.den, p.slope_d
      FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY slope_d, num, den) AS rn
            FROM pairs) p CROSS JOIN np
      WHERE p.rn = (np.n_pairs + 1) // 2
    ), resid AS (
      SELECT m.rev_c * s.den - s.num * m.m AS rnum, s.den AS rden,
             (m.rev_c * s.den - s.num * m.m)::DOUBLE / s.den AS resid_d
      FROM monthly m CROSS JOIN slope s
    ), nm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_months FROM monthly
    ), icept AS (
      SELECT r.resid_d
      FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY resid_d, rnum, rden) AS rn
            FROM resid) r CROSS JOIN nm
      WHERE r.rn = (nm.n_months + 1) // 2
    )
    SELECT nm.n_months, np.n_pairs,
           s.slope_d / 1e2 AS slope_per_month,
           i.resid_d / 1e2 AS intercept
    FROM nm CROSS JOIN np CROSS JOIN slope s CROSS JOIN icept i
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of monthly order revenue: the slope is the
    LOWER MEDIAN of all pairwise month-to-month slopes and the intercept
    the lower median of the residuals under that slope — the
    outlier-resistant alternative to ``linreg_price_model``'s OLS (one
    wild month moves OLS, not the median of C(n,2) slopes).

    Determinism: monthly revenues are exact cents; every pairwise slope
    is the RATIONAL (num, den) with den > 0, compared as the identical
    IEEE divide in both engines with (num, den) as the exact tiebreak
    (two distinct rationals rounding to one double still order
    identically); medians are rank-selected, never averaged — no float
    accumulation anywhere.

    Scale shape: the fact table collapses to the MONTH domain (time-
    bounded: 80 months at every SF — calendar, not data, sized) in one
    map-side-combinable groupBy; the all-pairs slope table is
    months^2-sized by construction; both median selections are
    row_number over that bounded domain. Overflow: rev_c*den <=
    1e15 cents-months at 100 TB/yr — int64-safe."""
    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (
            (F.year("o_orderdate") - F.lit(1992)) * 12
            + F.month("o_orderdate")
            - F.lit(1)
        )
        .cast("bigint")
        .alias("m")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_c")
    )
    monthly = monthly.localCheckpoint()
    a = monthly.select(F.col("m").alias("ma"), F.col("rev_c").alias("ra"))
    b = monthly.select(F.col("m").alias("mb"), F.col("rev_c").alias("rb"))
    # both sides are the same checkpointed frame, so AQE's build side is a
    # runtime tie; the hint pins it (BuildRight) for a repeatable plan
    pairs = (
        a.join(F.broadcast(b), F.col("ma") < F.col("mb"))
        .select(
            (F.col("rb") - F.col("ra")).alias("num"),
            (F.col("mb") - F.col("ma")).alias("den"),
        )
        .withColumn("slope_d", F.col("num").cast("double") / F.col("den"))
        .localCheckpoint()
    )
    np_ = pairs.agg(F.count("*").alias("n_pairs"))
    ranked = with_global_rank(pairs, ["slope_d", "num", "den"], rank_col="rn")
    # 1-row frame consumed by BOTH the residual branch and the output —
    # localCheckpoint cuts the ranked->pairs lineage so the intercept
    # branch does not re-execute the slope selection; lazy (round 15)
    # so the materialization rides the first consuming job instead of
    # paying its own driver action
    slope = (
        ranked.crossJoin(F.broadcast(np_))
        .filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .select("num", "den", "slope_d")
        .localCheckpoint(eager=False)
    )
    resid = monthly.crossJoin(F.broadcast(slope)).select(
        (F.col("rev_c") * F.col("den") - F.col("num") * F.col("m")).alias("rnum"),
        F.col("den").alias("rden"),
    ).withColumn("resid_d", F.col("rnum").cast("double") / F.col("rden"))
    nm = monthly.agg(F.count("*").alias("n_months"))
    rranked = with_global_rank(resid, ["resid_d", "rnum", "rden"], rank_col="rn")
    icept = (
        rranked.crossJoin(F.broadcast(nm))
        .filter(F.col("rn") == F.expr("(n_months + 1) div 2"))
        .select("resid_d")
    )
    return (
        nm.crossJoin(F.broadcast(np_))
        .crossJoin(
            F.broadcast(
                slope.select((F.col("slope_d") / F.lit(1e2)).alias("slope_per_month"))
            )
        )
        .crossJoin(
            F.broadcast(icept.select((F.col("resid_d") / F.lit(1e2)).alias("intercept")))
        )
        .select("n_months", "n_pairs", "slope_per_month", "intercept")
    )


K_ANON_CLASS_CAP = 10


@query(
    "k_anonymity_audit",
    oracle=f"""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
             (c_acctbal < 0) AS in_debt
      FROM customer
    ), grp AS (
      SELECT c_nationkey, c_mktsegment, bal_band,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(COUNT(DISTINCT in_debt) AS BIGINT) AS l
      FROM qi GROUP BY c_nationkey, c_mktsegment, bal_band
    )
    SELECT LEAST(k, {K_ANON_CLASS_CAP}) AS k_class,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_homogeneous
    FROM grp
    GROUP BY k_class
    ORDER BY k_class
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-release audit (Sweeney k-anonymity + l-diversity): bucket
    customers by the quasi-identifier tuple (nation, market segment,
    account-balance band) and histogram the equivalence-class sizes —
    k=1 rows are directly re-identifiable, and k-classes whose sensitive
    attribute (in-debt flag) is homogeneous (l=1) leak it to anyone who
    can name the group. The k-class axis caps at {K_ANON_CLASS_CAP}
    (everything safer lumps together).

    Determinism: all counts are integers; the balance band is one
    floor-divide; no floats anywhere.

    Scale shape: one map-side-combinable groupBy to QI-group cardinality
    (bounded by |nations| x |segments| x |bands|), then a second tiny
    aggregate over the group table — the fact scan is touched once."""
    cust = load(spark, sf_dir, "customer")
    qi = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        (F.col("c_acctbal") < 0).alias("in_debt"),
    )
    grp = qi.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count("*").alias("k"),
        F.count_distinct("in_debt").cast("bigint").alias("l"),
    )
    return (
        grp.groupBy(
            F.least(F.col("k"), F.lit(K_ANON_CLASS_CAP)).alias("k_class")
        )
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("k").alias("n_customers"),
            F.sum((F.col("l") == 1).cast("bigint")).alias("n_homogeneous"),
        )
        .orderBy("k_class")
    )


@query(
    "jain_fairness_index",
    oracle="""
    WITH ue AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY user_id
    ), usums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM ue
    ), sd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS x FROM documents GROUP BY source
    ), ssums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM sd
    ), both_dims AS (
      SELECT 'source_docs' AS dimension, n, sx, sxx FROM ssums
      UNION ALL
      SELECT 'user_events', n, sx, sxx FROM usums
    )
    SELECT dimension, n,
           CASE WHEN n = 0 OR sxx = 0 THEN NULL
                ELSE sx::DOUBLE / n * sx / sxx END AS fairness
    FROM both_dims
    ORDER BY dimension
    """,
)
def jain_fairness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jain's fairness index (Jain et al. 1984) of two allocation
    dimensions — events per user and documents per source:
    J = (sum x)^2 / (n * sum x^2), 1 when perfectly even, 1/n when one
    participant holds everything. The single-scalar companion to
    ``customer_spend_gini``/``join_key_skew_profile`` for capacity and
    corpus-mix monitoring.

    Determinism: the moment sums are exact int64; J is ONE pinned
    divide-early double chain (sx/n * sx / sxx — never the int64
    (sum)^2 that overflows at 1e12 events), NULL-guarded for empty
    dimensions by an identical CASE.

    Scale shape: one map-side-combinable groupBy per dimension to
    entity-sized counts, one scalar moment aggregate each, a 2-row
    union."""
    ev = load(spark, sf_dir, "events")
    docs = load(spark, sf_dir, "documents")

    def moments(df, key):
        per = df.groupBy(key).agg(F.count("*").alias("x"))
        return per.agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )

    both = (
        moments(docs, "source")
        .select(F.lit("source_docs").alias("dimension"), "n", "sx", "sxx")
        .unionByName(
            moments(ev, "user_id").select(
                F.lit("user_events").alias("dimension"), "n", "sx", "sxx"
            )
        )
    )
    return (
        both.select(
            "dimension",
            "n",
            F.when(
                (F.col("n") == 0) | (F.col("sxx") == 0),
                F.lit(None).cast("double"),
            )
            .otherwise(
                F.col("sx").cast("double") / F.col("n") * F.col("sx") / F.col("sxx")
            )
            .alias("fairness"),
        )
        .orderBy("dimension")
    )


# --- rank-based two-sample tests (round 7) ---------------------------------

MW_SEG_A = "BUILDING"
MW_SEG_B = "MACHINERY"


@query(
    "mann_whitney_segment_spend",
    oracle=f"""
    WITH rows_ AS (
      SELECT CAST(ROUND(o.o_totalprice * 1e2) AS BIGINT) AS v,
             CASE WHEN c.c_mktsegment = '{MW_SEG_A}' THEN 1 ELSE 0 END AS is_a
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('{MW_SEG_A}', '{MW_SEG_B}')
    ), hist AS (
      SELECT v, SUM(is_a) AS c1, COUNT(*) AS ct FROM rows_ GROUP BY v
    ), cum AS (
      SELECT v, c1, ct,
             COALESCE(SUM(ct) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM hist
    ), moms AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(ct) AS BIGINT) AS n,
             SUM(CAST(c1 AS HUGEINT) * (2 * cb + ct + 1)) AS r1x2,
             SUM(CAST(ct AS HUGEINT) * ct * ct - ct) AS tsum
      FROM cum
    )
    SELECT n1, CAST(n - n1 AS BIGINT) AS n2,
           CASE WHEN n1 > 0 AND n - n1 > 0 THEN
             CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) / 2 END AS u1,
           CASE WHEN n1 > 0 AND n - n1 > 0 AND tsum < CAST(n AS HUGEINT) * n * n - n
           THEN ROUND(
             (CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) / 2
              - CAST(n1 AS DOUBLE) * (n - n1) / 2)
             / sqrt(CAST(n1 AS DOUBLE) * (n - n1) / 12
                    * ((CAST(n AS DOUBLE) + 1)
                       - CAST(tsum AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))),
             9) END AS z_score
    FROM moms
    """,
)
def mann_whitney_segment_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: do {MW_SEG_A} and
    {MW_SEG_B} customers spend from the same order-value distribution?
    The nonparametric two-sample test every experimentation platform
    offers next to the t-test — robust to the heavy-tailed spend
    distributions where mean-based tests mislead. Reports U for group A
    and the tie-corrected normal-approximation z.

    Determinism: ranks never materialize per row — the VALUE-DOMAIN
    histogram gives every distinct value its midrank exactly as the
    integer ``2·cum_before + ct + 1`` (doubled to stay integral), so the
    rank sum, the tie term Σ(t³−t), and U are exact integer/decimal
    arithmetic in both engines; z is one pinned chain of double ops,
    rounded to 9. Degenerate feeds (an empty group, or all values tied)
    return NULL z via identical CASE guards.

    Scale shape: one broadcast dim join + a map-side-combinable
    value-domain histogram; the only window is the exclusive cum-count
    over DISTINCT ORDER VALUES (``cum_counts_over_values`` — bounded by
    value cardinality, the documented exception); the moments are one
    scalar aggregate in decimal(38,0) (HUGEINT oracle-side), so rank
    sums cannot overflow int64 even at 1e9 orders."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin(MW_SEG_A, MW_SEG_B)
    )
    rows = orders.join(
        F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")
    ).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        (F.col("c_mktsegment") == MW_SEG_A).cast("bigint").alias("is_a"),
    )
    hist = rows.groupBy("v").agg(
        F.sum("is_a").alias("c1"), F.count("*").alias("ct")
    )
    cum = cum_counts_over_values(hist, "v", "ct", "cb")
    dec = "decimal(38,0)"
    moms = cum.agg(
        F.sum("c1").alias("n1"),
        F.sum("ct").alias("n"),
        F.sum(
            F.col("c1").cast(dec) * (2 * F.col("cb") + F.col("ct") + 1)
        ).alias("r1x2"),
        F.sum(
            F.col("ct").cast(dec) * F.col("ct") * F.col("ct") - F.col("ct")
        ).alias("tsum"),
    )
    n1d = F.col("n1").cast("double")
    n2 = F.col("n") - F.col("n1")
    nd = F.col("n").cast("double")
    u1 = (
        (F.col("r1x2") - F.col("n1").cast(dec) * (F.col("n1") + 1)).cast("double")
        / 2
    )
    ok = (F.col("n1") > 0) & (n2 > 0)
    var = (
        n1d * n2 / 12
        * ((nd + 1) - F.col("tsum").cast("double") / (nd * (nd - 1)))
    )
    z = F.round((u1 - n1d * n2 / 2) / F.sqrt(var), 9)
    no_var = F.col("tsum") >= F.col("n").cast(dec) * F.col("n") * F.col("n") - F.col("n")
    return moms.select(
        "n1",
        n2.cast("bigint").alias("n2"),
        F.when(ok, u1).alias("u1"),
        F.when(ok & ~no_var, z).alias("z_score"),
    )


@query(
    "spearman_qty_price",
    oracle="""
    WITH rows_ AS (
      SELECT CAST(ROUND(l_quantity * 1e2) AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 1e2) AS BIGINT) AS y
      FROM lineitem
    ), hx AS (
      SELECT x, COUNT(*) AS ct,
             COALESCE(SUM(COUNT(*)) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM rows_ GROUP BY x
    ), hy AS (
      SELECT y, COUNT(*) AS ct,
             COALESCE(SUM(COUNT(*)) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM rows_ GROUP BY y
    ), ranked AS (
      SELECT (2 * hx.cb + hx.ct + 1) AS rx2, (2 * hy.cb + hy.ct + 1) AS ry2
      FROM rows_ r JOIN hx ON hx.x = r.x JOIN hy ON hy.y = r.y
    ), m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(rx2 AS HUGEINT)) AS sx, SUM(CAST(ry2 AS HUGEINT)) AS sy,
             SUM(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
             SUM(CAST(ry2 AS HUGEINT) * ry2) AS syy,
             SUM(CAST(rx2 AS HUGEINT) * ry2) AS sxy
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN n > 1 AND n * sxx > sx * sx AND n * syy > sy * sy
           THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                   * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 9)
           END AS spearman_rho
    FROM m
    """,
)
def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price over
    lineitem — the monotone-association measure data-profiling suites
    report next to Pearson (robust to outliers and nonlinearity; the two
    diverging flags a nonlinear relationship). Tie-heavy by
    construction: quantity has ~50 distinct values, so midrank handling
    is the whole test.

    Determinism: midranks come from the two VALUE-DOMAIN histograms as
    exact integers (``2·cum_before + ct + 1``, doubled to stay
    integral — scaling both rank vectors by 2 leaves rho unchanged);
    the Pearson-on-ranks moments accumulate in decimal(38,0)/HUGEINT
    (n·Σrxry reaches ~4n⁴ — past int64 at 6e5 rows, inside 38 digits to
    ~1e9); rho is one pinned double chain rounded to 9. Constant
    columns return NULL via identical guards.

    Scale shape: two map-side-combinable histograms; the midrank maps
    join back value→rank (the quantity map broadcasts at 50 rows; the
    price map is an equi-join on the value key — row-scale at 100 TB
    and correctly shuffled); the only windows are exclusive cum-counts
    over DISTINCT VALUES; moments are one scalar aggregate."""
    li = load(spark, sf_dir, "lineitem")
    rows = li.select(
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    hx = cum_counts_over_values(
        rows.groupBy("x").agg(F.count("*").alias("ct")), "x", "ct", "cb"
    ).select("x", (2 * F.col("cb") + F.col("ct") + 1).alias("rx2"))
    hy = cum_counts_over_values(
        rows.groupBy("y").agg(F.count("*").alias("ct")), "y", "ct", "cb"
    ).select("y", (2 * F.col("cb") + F.col("ct") + 1).alias("ry2"))
    ranked = rows.join(F.broadcast(hx), "x").join(hy, "y")
    dec = "decimal(38,0)"
    m = ranked.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("rx2").cast(dec)).alias("sx"),
        F.sum(F.col("ry2").cast(dec)).alias("sy"),
        F.sum(F.col("rx2").cast(dec) * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2").cast(dec) * F.col("ry2")).alias("syy"),
        F.sum(F.col("rx2").cast(dec) * F.col("ry2")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    ok = (F.col("n") > 1) & (dx > 0) & (dy > 0)
    rho = F.round(
        num.cast("double") / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))),
        9,
    )
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.when(ok, rho).alias("spearman_rho"),
    )


# --- distribution drift + stump induction (round 7) ------------------------

KS_TYPE_A = "view"
KS_TYPE_B = "click"


@query(
    "ks_value_drift",
    oracle=f"""
    WITH rows_ AS (
      SELECT CAST(ROUND(value * 1e2) AS BIGINT) AS v,
             CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END AS b
      FROM events WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
    ), hist AS (
      SELECT v, SUM(a) AS c1, SUM(b) AS c2 FROM rows_ GROUP BY v
    ), cum AS (
      SELECT v,
             SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f1,
             SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f2
      FROM hist
    ), tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM hist
    ), diffs AS (
      SELECT v, abs(CAST(f1 AS HUGEINT) * n2 - CAST(f2 AS HUGEINT) * n1) AS dnum
      FROM cum, tot
    ), best AS (
      SELECT v, dnum FROM diffs ORDER BY dnum DESC, v LIMIT 1
    )
    SELECT n1, n2,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             ROUND(CAST(b.dnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 9) END AS d_stat,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             CAST(b.v AS DOUBLE) / 100 END AS at_value
    FROM tot, best b
    """,
)
def ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the
    '{KS_TYPE_A}' and '{KS_TYPE_B}' event-value distributions: D =
    max |F1(v) − F2(v)| plus the value where the CDFs diverge most —
    the standard feature-drift monitor between a training snapshot and
    live traffic.

    Determinism: CDF differences never touch floats — the max runs over
    the INTEGER cross-product form |f1·n2 − f2·n1| (HUGEINT /
    decimal(38,0), exact at any scale); the argmax is a (dnum DESC, v)
    total order; D divides once at the end, rounded to 9.

    Scale shape: one map-side-combinable value-domain histogram; the
    CDFs are inclusive running sums over DISTINCT VALUE CENTS (bounded
    by the value range — a constant as data grows — the documented
    global-window exception); the argmax is TakeOrdered(1); totals
    broadcast."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)
    )
    rows = ev.select(
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        (F.col("event_type") == KS_TYPE_A).cast("bigint").alias("a"),
        (F.col("event_type") == KS_TYPE_B).cast("bigint").alias("b"),
    )
    hist = rows.groupBy("v").agg(F.sum("a").alias("c1"), F.sum("b").alias("c2"))
    return ks_from_hist(hist)


def ks_class_hist(ev: DataFrame) -> DataFrame:
    """Per-micro-batch KS drift partials from an (event_type, value)
    frame: the (v, c1, c2) value histogram — mergeable by addition, the
    standing state of the streaming drift monitor."""
    rows = ev.filter(F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)).select(
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        (F.col("event_type") == KS_TYPE_A).cast("bigint").alias("a"),
        (F.col("event_type") == KS_TYPE_B).cast("bigint").alias("b"),
    )
    return rows.groupBy("v").agg(F.sum("a").alias("c1"), F.sum("b").alias("c2"))


def ks_from_hist(hist: DataFrame) -> DataFrame:
    """Finalize a two-sample KS statistic from a (v, c1, c2) value
    histogram. Split out because the histogram is the MERGEABLE state of
    a streaming drift monitor: micro-batches contribute (v, c1, c2)
    partials (counts add), and this tail over the merged store equals
    the batch statistic exactly — the summary/finalize split every
    sketch in statistics.py follows (pinned by the foreachBatch twin in
    tests/test_streaming.py)."""
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    dec = "decimal(38,0)"
    cum = hist.select(
        "v", F.sum("c1").over(w).alias("f1"), F.sum("c2").over(w).alias("f2")
    )
    tot = hist.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        "n1",
        "n2",
        F.abs(
            F.col("f1").cast(dec) * F.col("n2") - F.col("f2").cast(dec) * F.col("n1")
        ).alias("dnum"),
    )
    best = diffs.orderBy(F.desc("dnum"), "v").limit(1)
    ok = (F.col("n1") > 0) & (F.col("n2") > 0)
    return best.select(
        "n1",
        "n2",
        F.when(
            ok,
            F.round(
                F.col("dnum").cast("double")
                / (F.col("n1").cast("double") * F.col("n2")),
                9,
            ),
        ).alias("d_stat"),
        F.when(ok, F.col("v").cast("double") / 100).alias("at_value"),
    )


@query(
    "gini_stump_threshold",
    oracle="""
    WITH rows_ AS (
      SELECT CAST(ROUND(l_extendedprice * 1e2) AS BIGINT) AS v,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem
    ), hist AS (
      SELECT v, SUM(pos) AS p, COUNT(*) AS ct FROM rows_ GROUP BY v
    ), cum AS (
      SELECT v,
             SUM(p) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS pl,
             SUM(ct) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS nl
      FROM hist
    ), tot AS (
      SELECT CAST(SUM(p) AS BIGINT) AS ptot, CAST(SUM(ct) AS BIGINT) AS ntot FROM hist
    ), scored AS (
      SELECT v, nl, pl, ntot - nl AS nr, ptot - pl AS pr,
             CAST(ROUND((
               (CAST(pl AS DOUBLE) * pl + CAST(nl - pl AS DOUBLE) * (nl - pl)) / nl
               + (CAST(ptot - pl AS DOUBLE) * (ptot - pl)
                  + CAST((ntot - nl) - (ptot - pl) AS DOUBLE) * ((ntot - nl) - (ptot - pl)))
                 / (ntot - nl)
             ) * 1e6) AS BIGINT) AS score_i6
      FROM cum, tot
      WHERE nl > 0 AND ntot - nl > 0
    ), best AS (
      SELECT * FROM scored ORDER BY score_i6 DESC, v LIMIT 1
    )
    SELECT CAST(b.v AS DOUBLE) / 100 AS threshold,
           CAST(b.nl AS BIGINT) AS n_left, CAST(b.nr AS BIGINT) AS n_right,
           CAST(b.pl AS BIGINT) AS pos_left, CAST(b.pr AS BIGINT) AS pos_right,
           ROUND((CAST(t.ntot AS DOUBLE) - CAST(b.score_i6 AS DOUBLE) / 1e6)
                 / t.ntot, 6) AS weighted_gini
    FROM best b, tot t
    """,
)
def gini_stump_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump induction: the single best price threshold
    splitting returned ('R') from kept lineitems by minimum weighted
    Gini impurity — one node of a distributed decision-tree / GBDT
    trainer, which is exactly this histogram-and-prefix-sum sweep per
    feature (the XGBoost/LightGBM 'hist' algorithm's inner loop).

    Determinism: candidate thresholds are the DISTINCT price cents;
    class counts per side come from integer prefix sums; minimizing
    weighted Gini ⇔ maximizing Σ_k c_Lk²/n_L + Σ_k c_Rk²/n_R, computed
    as a pinned double chain from exact ints and rounded to i6 before
    the (score DESC, v) argmax, so the winning split cannot hinge on a
    last bit. Exact to ~9e7 rows per class (c² < 2^53); past that,
    rescale counts or widen to decimal — documented, not silent (the
    argmax ordering saturates long before the counts do).

    Scale shape: the 'hist' trick — one map-side-combinable value
    histogram, prefix sums over DISTINCT VALUES (bounded by the cents
    range, the documented exception), scalar totals broadcast, argmax
    as TakeOrdered(1). The fact table is scanned once."""
    li = load(spark, sf_dir, "lineitem")
    rows = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("v"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("pos"),
    )
    hist = rows.groupBy("v").agg(F.sum("pos").alias("p"), F.count("*").alias("ct"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "v", F.sum("p").over(w).alias("pl"), F.sum("ct").over(w).alias("nl")
    )
    tot = hist.agg(F.sum("p").alias("ptot"), F.sum("ct").alias("ntot"))
    nl, pl = F.col("nl"), F.col("pl")
    nr = F.col("ntot") - nl
    pr = F.col("ptot") - pl
    side = lambda c, n: (  # noqa: E731 — Σ_k c_k² / n for a 2-class side
        c.cast("double") * c + (n - c).cast("double") * (n - c)
    ) / n
    scored = (
        cum.crossJoin(F.broadcast(tot))
        .filter((nl > 0) & (nr > 0))
        .select(
            "v",
            "nl",
            "pl",
            nr.alias("nr"),
            pr.alias("pr"),
            F.col("ntot"),
            F.round((side(pl, nl) + side(pr, nr)) * 1e6).cast("bigint").alias("score_i6"),
        )
    )
    best = scored.orderBy(F.desc("score_i6"), "v").limit(1)
    return best.select(
        (F.col("v").cast("double") / 100).alias("threshold"),
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        F.col("pl").alias("pos_left"),
        F.col("pr").alias("pos_right"),
        F.round(
            (F.col("ntot").cast("double") - F.col("score_i6").cast("double") / 1e6)
            / F.col("ntot"),
            6,
        ).alias("weighted_gini"),
    )


# --- classical test completion (round 7): ANOVA / normality / variance ------

def _sql_anova_tail(k_min: int = 2) -> str:
    """Oracle tail shared by the ANOVA-family tests: expects a CTE
    ``rows_(g, v)`` with integer v; produces (k, n, f_stat, eta_squared)
    from i2-quantized exact sums of squares."""
    return f"""
    grp AS (
      SELECT g, COUNT(*) AS n_g, SUM(CAST(v AS HUGEINT)) AS s_g,
             SUM(CAST(v AS HUGEINT) * v) AS q_g
      FROM rows_ GROUP BY g
    ), t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
             SUM(s_g) AS t1, SUM(q_g) AS q,
             SUM(s_g * s_g * 100 // n_g) AS bsum
      FROM grp
    ), scal AS (
      SELECT k, n,
             bsum - t1 * t1 * 100 // n AS ssb_i2,
             q * 100 - bsum AS ssw_i2
      FROM t
    )
    SELECT k, n,
           CASE WHEN k >= {k_min} AND n > k AND ssw_i2 > 0 THEN
             ROUND(CAST(ssb_i2 AS DOUBLE) / (k - 1)
                   / (CAST(ssw_i2 AS DOUBLE) / (n - k)), 6) END AS f_stat,
           CASE WHEN ssb_i2 + ssw_i2 > 0 THEN
             ROUND(CAST(ssb_i2 AS DOUBLE) / CAST(ssb_i2 + ssw_i2 AS DOUBLE), 6)
           END AS eta_squared
    FROM scal
    """


def _anova_from_rows(rows: DataFrame, k_min: int = 2) -> DataFrame:
    """Spark twin of :func:`_sql_anova_tail`: one-way ANOVA F over a
    (g, v) frame with integer v. One map-side-combinable group aggregate
    (the group count is the only state), one k-row reduction; every sum
    of squares is an exact i2-quantized integer (``int_div_exact``), so
    partitioning cannot move the statistic."""
    dec = "decimal(38,0)"
    grp = rows.groupBy("g").agg(
        F.count("*").alias("n_g"),
        F.sum(F.col("v").cast(dec)).alias("s_g"),
        F.sum(F.col("v").cast(dec) * F.col("v")).alias("q_g"),
    )
    t = grp.agg(
        F.count("*").alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("t1"),
        F.sum("q_g").alias("q"),
        F.sum(
            int_div_exact(F.col("s_g") * F.col("s_g") * 100, F.col("n_g").cast(dec))
        ).alias("bsum"),
    )
    scal = t.select(
        "k",
        "n",
        (
            F.col("bsum")
            - int_div_exact(F.col("t1") * F.col("t1") * 100, F.col("n").cast(dec))
        ).alias("ssb_i2"),
        (F.col("q") * 100 - F.col("bsum")).alias("ssw_i2"),
    )
    ok = (F.col("k") >= k_min) & (F.col("n") > F.col("k")) & (F.col("ssw_i2") > 0)
    tot = F.col("ssb_i2") + F.col("ssw_i2")
    return scal.select(
        "k",
        "n",
        F.when(
            ok,
            F.round(
                F.col("ssb_i2").cast("double")
                / (F.col("k") - 1)
                / (F.col("ssw_i2").cast("double") / (F.col("n") - F.col("k"))),
                6,
            ),
        ).alias("f_stat"),
        F.when(
            tot > 0, F.round(F.col("ssb_i2").cast("double") / tot.cast("double"), 6)
        ).alias("eta_squared"),
    )


@query(
    "anova_f_segment_spend",
    oracle=f"""
    WITH rows_ AS (
      SELECT c.c_mktsegment AS g,
             CAST(ROUND(o.o_totalprice * 1e2) AS BIGINT) AS v
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), {_sql_anova_tail()}
    """,
)
def anova_f_segment_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the five market segments on order value: the
    F statistic (between-group vs within-group variance) plus eta² (the
    share of spend variance the segmentation explains) — the k-group
    generalization of the t-test, and the first question asked of any
    segmentation ("does it separate spend at all?").

    Determinism: each group contributes three exact integer moments
    (n, Σv, Σv² in cents, HUGEINT/decimal(38,0)); the sums of squares
    are frozen to exact i2 integers via ``int_div_exact`` (Σ S_g²·100
    div n_g), so SSB/SSW are integers and F/eta² are pinned scalar
    double chains rounded to 6. Degenerate inputs (k<2, n≤k, zero
    within-variance) return NULL under identical guards.

    Scale shape: ONE map-side-combinable group aggregate over the fact
    join (customer dim broadcast by AQE at real scale), then a k-row
    reduction — no windows at all. S_g²·100 stays inside decimal(38) to
    ~1e9 orders per group in cents; rescale v to dollars past that."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    rows = orders.join(
        F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")
    ).select(
        F.col("c_mktsegment").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    return _anova_from_rows(rows)


@query(
    "brown_forsythe_spend_variance",
    oracle=f"""
    WITH base AS (
      SELECT c.c_mktsegment AS g,
             CAST(ROUND(o.o_totalprice * 1e2) AS BIGINT) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), h AS (
      SELECT g, x, COUNT(*) AS ct FROM base GROUP BY g, x
    ), hc AS (
      SELECT g, x, ct,
             COALESCE(SUM(ct) OVER (PARTITION BY g ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM h
    ), gn AS (
      SELECT g, SUM(ct) AS n_g FROM h GROUP BY g
    ), med AS (
      SELECT hc.g, x AS med
      FROM hc JOIN gn USING (g)
      WHERE cb < (n_g + 1) // 2 AND (n_g + 1) // 2 <= cb + ct
    ), rows_ AS (
      SELECT b.g AS g, ABS(b.x - m.med) AS v
      FROM base b JOIN med m ON m.g = b.g
    ), {_sql_anova_tail()}
    """,
)
def brown_forsythe_spend_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-based Levene) test: do the five market
    segments have EQUAL spend variance? ANOVA's F assumes homoscedastic
    groups; this is the standard robust pre-check — a one-way ANOVA on
    the absolute deviations from each group's median.

    Determinism: group medians are picked from per-group value
    histograms by exact integer rank position (lower median,
    pos = (n_g+1) div 2 — the pinned convention; BF is insensitive to
    the median tie rule), the deviations are exact integers, and the
    F tail reuses the i2-quantized ANOVA machinery.

    Scale shape: the median histogram is map-side-combinable and its
    cum window partitions BY GROUP over distinct values (never a global
    funnel); the 5-row median map broadcasts back onto the fact rows;
    then one group aggregate + k-row reduction, as the ANOVA."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    base = orders.join(
        F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")
    ).select(
        F.col("c_mktsegment").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("x"),
    )
    h = base.groupBy("g", "x").agg(F.count("*").alias("ct"))
    wc = (
        Window.partitionBy("g")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hc = h.withColumn("cb", F.coalesce(F.sum("ct").over(wc), F.lit(0)))
    gn = h.groupBy("g").agg(F.sum("ct").alias("n_g"))
    pos = F.expr("(n_g + 1) div 2")
    med = (
        hc.join(F.broadcast(gn), "g")
        .filter((F.col("cb") < pos) & (pos <= F.col("cb") + F.col("ct")))
        .select("g", F.col("x").alias("med"))
    )
    rows = base.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("x") - F.col("med")).alias("v")
    )
    return _anova_from_rows(rows)


@query(
    "jarque_bera_order_values",
    oracle="""
    WITH rows_ AS (
      SELECT CAST(ROUND(o_totalprice) AS BIGINT) AS v FROM orders
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(v AS HUGEINT)) AS s1,
             SUM(CAST(v AS HUGEINT) * v) AS s2,
             SUM(CAST(v AS HUGEINT) * v * v) AS s3,
             SUM(CAST(v AS HUGEINT) * v * v * v) AS s4
      FROM rows_
    )
    SELECT n,
           ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean_value,
           ROUND((CAST(s3 AS DOUBLE) / n
                  - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                  + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                      * (CAST(s1 AS DOUBLE) / n))
                 / POW(CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                       1.5), 6) AS skewness,
           ROUND((CAST(s4 AS DOUBLE) / n
                  - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
                  + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                      * (CAST(s2 AS DOUBLE) / n)
                  - 3 * POW(CAST(s1 AS DOUBLE) / n, 4.0))
                 / POW(CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                       2.0) - 3, 6) AS excess_kurtosis,
           ROUND(n / 6.0 * (
             POW((CAST(s3 AS DOUBLE) / n
                  - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                  + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                      * (CAST(s1 AS DOUBLE) / n))
                 / POW(CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                       1.5), 2.0)
             + POW((CAST(s4 AS DOUBLE) / n
                    - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
                    + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                        * (CAST(s2 AS DOUBLE) / n)
                    - 3 * POW(CAST(s1 AS DOUBLE) / n, 4.0))
                   / POW(CAST(s2 AS DOUBLE) / n
                         - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                         2.0) - 3, 2.0) / 4), 6) AS jb_stat
    FROM m
    """,
)
def jarque_bera_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on order values: skewness, excess
    kurtosis, and JB = n/6·(S² + K²/4) — the moment-based normality
    check run before any test that assumes Gaussian residuals (and a
    one-scan distribution profiler in its own right: heavy-tailed spend
    shows up as kurtosis long before a histogram is drawn).

    Determinism: the four raw power sums Σv..Σv⁴ are exact integers
    (HUGEINT / decimal(38,0)) over DOLLAR-rounded values — the unit is
    the documented overflow bound: dollars keep Σv⁴ under 1e33 at 1e9
    orders where cents would burst decimal(38) — and every derived
    moment is the same pinned scalar double chain in both engines,
    rounded to 6. No cancellation instability at this CV (central
    moments from exact raw sums, one subtraction each).

    Scale shape: ONE scalar aggregate over one scan. Nothing else."""
    orders = load(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    v = F.round(F.col("o_totalprice")).cast("bigint")
    rows = orders.select(v.alias("v"))
    vd = F.col("v").cast(dec)
    m = rows.agg(
        F.count("*").alias("n"),
        F.sum(vd).alias("s1"),
        F.sum(vd * F.col("v")).alias("s2"),
        F.sum(vd * F.col("v") * F.col("v")).alias("s3"),
        F.sum(vd * F.col("v") * F.col("v") * F.col("v")).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n - mu * mu
    m3 = F.col("s3").cast("double") / n - 3 * mu * (F.col("s2").cast("double") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4").cast("double") / n
        - 4 * mu * (F.col("s3").cast("double") / n)
        + 6 * mu * mu * (F.col("s2").cast("double") / n)
        - 3 * F.pow(mu, F.lit(4.0))
    )
    skew = m3 / F.pow(m2, F.lit(1.5))
    kurt = m4 / F.pow(m2, F.lit(2.0)) - 3
    jb = n / 6.0 * (F.pow(skew, F.lit(2.0)) + F.pow(kurt, F.lit(2.0)) / 4)
    return m.select(
        "n",
        F.round(mu, 6).alias("mean_value"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(jb, 6).alias("jb_stat"),
    )


def kendall_tau_from_rows(rows: DataFrame) -> DataFrame:
    """Kendall's tau-b over a (x, y) integer frame via 2D dominance
    counting on the VALUE GRID: concordant/discordant pair totals come
    from two-stage prefix sums over the (x, y) histogram — never a pair
    join. Module-level so the arithmetic is property-testable against a
    scalar O(n²) reference.

    For each grid cell, LL = #points strictly below-left (prefix over x
    within y, then prefix over y within x) and LU = #points above-left;
    C = Σ n_xy·LL and D = Σ n_xy·LU count each concordant/discordant
    pair exactly once (at its larger-x end). Tie corrections use the
    doubled form n0x2 = n(n−1), nx2 = Σ r(r−1), so everything stays
    integral until tau = 2(C−D)/√(a·b) — one pinned double chain.

    Scale shape: one map-side-combinable 2D histogram; the three
    windows PARTITION BY one grid axis and order by the other — bounded
    by value cardinality per partition, never a global funnel; moments
    are scalar aggregates in decimal(38,0)."""
    dec = "decimal(38,0)"
    g0 = rows.groupBy("x", "y").agg(F.count("*").alias("n0"))
    # densify: the prefix over y within x must carry ax through (x, y')
    # cells with no observations — the 2D prefix is only correct on the
    # full |Dx|·|Dy| grid (bounded by value cardinality, not data)
    cells = g0.select("x").distinct().crossJoin(g0.select("y").distinct())
    g = cells.join(g0, ["x", "y"], "left").select(
        "x", "y", F.coalesce(F.col("n0"), F.lit(0)).alias("n_xy")
    )
    wx = (
        Window.partitionBy("y")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wa = g.withColumn("ax", F.coalesce(F.sum("n_xy").over(wx), F.lit(0)))
    wll = (
        Window.partitionBy("x")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wlu = (
        Window.partitionBy("x")
        .orderBy(F.desc("y"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wc = wa.withColumn(
        "ll", F.coalesce(F.sum("ax").over(wll), F.lit(0))
    ).withColumn("lu", F.coalesce(F.sum("ax").over(wlu), F.lit(0)))
    m = wc.agg(
        F.sum(F.col("n_xy").cast(dec) * F.col("ll")).alias("conc"),
        F.sum(F.col("n_xy").cast(dec) * F.col("lu")).alias("disc"),
    )
    rx = g.groupBy("x").agg(F.sum("n_xy").alias("r"))
    ry = g.groupBy("y").agg(F.sum("n_xy").alias("r"))
    t1 = rx.agg(
        F.sum("r").alias("n"),
        F.sum(F.col("r").cast(dec) * (F.col("r") - 1)).alias("n1x2"),
    )
    t2 = ry.agg(F.sum(F.col("r").cast(dec) * (F.col("r") - 1)).alias("n2x2"))
    j = m.crossJoin(t1).crossJoin(t2)
    n0x2 = F.col("n").cast(dec) * (F.col("n") - 1)
    a = (n0x2 - F.col("n1x2")).cast("double")
    b = (n0x2 - F.col("n2x2")).cast("double")
    ok = (F.col("n") > 1) & (a > 0) & (b > 0)
    tau = F.round(
        2 * (F.col("conc") - F.col("disc")).cast("double")
        / (F.sqrt(a) * F.sqrt(b)),
        9,
    )
    return j.select(
        F.col("n").alias("n"),
        F.col("conc").cast("bigint").alias("n_concordant"),
        F.col("disc").cast("bigint").alias("n_discordant"),
        F.when(ok, tau).alias("tau_b"),
    )


@query(
    "kendall_tau_qty_discount",
    oracle="""
    WITH rows_ AS (
      SELECT CAST(ROUND(l_quantity) AS BIGINT) AS x,
             CAST(ROUND(l_discount * 1e2) AS BIGINT) AS y
      FROM lineitem
    ), g0 AS (
      SELECT x, y, COUNT(*) AS n0 FROM rows_ GROUP BY x, y
    ), cells AS (
      SELECT xs.x, ys.y
      FROM (SELECT DISTINCT x FROM g0) xs CROSS JOIN (SELECT DISTINCT y FROM g0) ys
    ), g AS (
      SELECT c.x, c.y, COALESCE(g0.n0, 0) AS n_xy
      FROM cells c LEFT JOIN g0 ON g0.x = c.x AND g0.y = c.y
    ), wa AS (
      SELECT x, y, n_xy,
             COALESCE(SUM(n_xy) OVER (PARTITION BY y ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ax
      FROM g
    ), wc AS (
      SELECT x, y, n_xy,
             COALESCE(SUM(ax) OVER (PARTITION BY x ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ll,
             COALESCE(SUM(ax) OVER (PARTITION BY x ORDER BY y DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lu
      FROM wa
    ), m AS (
      SELECT SUM(CAST(n_xy AS HUGEINT) * ll) AS conc,
             SUM(CAST(n_xy AS HUGEINT) * lu) AS disc
      FROM wc
    ), t1 AS (
      SELECT CAST(SUM(r) AS BIGINT) AS n,
             SUM(CAST(r AS HUGEINT) * (r - 1)) AS n1x2
      FROM (SELECT x, SUM(n_xy) AS r FROM g GROUP BY x)
    ), t2 AS (
      SELECT SUM(CAST(r AS HUGEINT) * (r - 1)) AS n2x2
      FROM (SELECT y, SUM(n_xy) AS r FROM g GROUP BY y)
    )
    SELECT n, CAST(conc AS BIGINT) AS n_concordant,
           CAST(disc AS BIGINT) AS n_discordant,
           CASE WHEN n > 1
                 AND CAST(n AS HUGEINT) * (n - 1) - n1x2 > 0
                 AND CAST(n AS HUGEINT) * (n - 1) - n2x2 > 0 THEN
             ROUND(2 * CAST(conc - disc AS DOUBLE)
                   / (sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - n1x2 AS DOUBLE))
                      * sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - n2x2 AS DOUBLE))),
                   9) END AS tau_b
    FROM m, t1, t2
    """,
)
def kendall_tau_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between quantity and discount — the third leg of
    the correlation family (Pearson `stats_correlation`, Spearman
    `spearman_qty_price`): the probability-scaled excess of concordant
    over discordant pairs, with the tie correction that matters when
    both axes are small integer domains (every pair here hits the tie
    terms).

    The naive definition is an O(n²) pair join; this computes it from
    the (x, y) VALUE GRID with two-stage partitioned prefix sums — see
    :func:`kendall_tau_from_rows` for the dominance-counting identity
    and determinism argument (all-integer until one pinned √ chain).

    Scale shape: grid cardinality = |x-domain|·|y-domain| (50·11 here),
    constant in data size; the fact table is scanned once into the
    map-side-combinable histogram."""
    li = load(spark, sf_dir, "lineitem")
    rows = li.select(
        F.round(F.col("l_quantity")).cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("y"),
    )
    return kendall_tau_from_rows(rows)


@query(
    "median_ci_orderstat",
    oracle="""
    WITH rows_ AS (
      SELECT CAST(ROUND(o_totalprice * 1e2) AS BIGINT) AS v FROM orders
    ), n_ AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rows_
    ), ranks AS (
      -- normal-approx binomial ranks at z = 1.96, floor/ceil to ints;
      -- clamped to [1, n] so tiny inputs stay valid
      SELECT n,
             GREATEST(1, CAST(FLOOR((n - 1.959963985 * sqrt(CAST(n AS DOUBLE)))
                                    / 2) AS BIGINT)) AS lo_rank,
             LEAST(n, 1 + CAST(CEIL((n + 1.959963985 * sqrt(CAST(n AS DOUBLE)))
                                    / 2) AS BIGINT)) AS hi_rank,
             (n + 1) // 2 AS med_rank
      FROM n_
    ), h AS (
      SELECT v, COUNT(*) AS ct FROM rows_ GROUP BY v
    ), hc AS (
      SELECT v, ct,
             SUM(ct) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
      FROM h
    ), pick AS (
      SELECT r.n, r.lo_rank, r.hi_rank,
             (SELECT MIN(v) FROM hc WHERE cum >= r.med_rank) AS med,
             (SELECT MIN(v) FROM hc WHERE cum >= r.lo_rank) AS lo,
             (SELECT MIN(v) FROM hc WHERE cum >= r.hi_rank) AS hi
      FROM ranks r
    )
    SELECT n,
           CAST(med AS DOUBLE) / 100 AS median,
           CAST(lo AS DOUBLE) / 100 AS ci_lo,
           CAST(hi AS DOUBLE) / 100 AS ci_hi
    FROM pick
    """,
)
def median_ci_orderstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the median of order
    values, from ORDER STATISTICS: the interval between the
    ⌊(n−z√n)/2⌋-th and (1+⌈(n+z√n)/2⌉)-th smallest values covers the
    true median with ≥95% probability for ANY distribution (the
    binomial-rank argument — no normality, no bootstrap resampling).
    The companion to `bootstrap_mean_ci` for the median, at one scan
    and zero resamples.

    Determinism: the three ranks are integers from one pinned double
    chain (z = 1.959963985 fixed); each value pick is an exact integer
    rank selection (min v with cum ≥ k) from the value histogram —
    the conformal-quantile machinery reused for inference.

    Scale shape: one map-side-combinable value histogram; the cum
    window runs over the cents-bounded value domain; three rank
    selections are tiny filtered aggregates off the same cum frame."""
    orders = load(spark, sf_dir, "orders")
    rows = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
    )
    n_ = rows.agg(F.count("*").alias("n"))
    z = 1.959963985
    nd = F.col("n").cast("double")
    ranks = n_.select(
        "n",
        F.greatest(
            F.lit(1), F.floor((nd - z * F.sqrt(nd)) / 2).cast("bigint")
        ).alias("lo_rank"),
        F.least(
            F.col("n"), 1 + F.ceil((nd + z * F.sqrt(nd)) / 2).cast("bigint")
        ).alias("hi_rank"),
        F.expr("(n + 1) div 2").alias("med_rank"),
    )
    h = rows.groupBy("v").agg(F.count("*").alias("ct"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    hc = h.withColumn("cum", F.sum("ct").over(wv)).crossJoin(F.broadcast(ranks))
    pick = lambda rank_col, name: (  # noqa: E731 — min v with cum >= rank
        hc.filter(F.col("cum") >= F.col(rank_col)).agg(
            F.min("v").alias(name)
        )
    )
    return (
        n_.crossJoin(F.broadcast(pick("med_rank", "med")))
        .crossJoin(F.broadcast(pick("lo_rank", "lo")))
        .crossJoin(F.broadcast(pick("hi_rank", "hi")))
        .select(
            "n",
            (F.col("med").cast("double") / 100).alias("median"),
            (F.col("lo").cast("double") / 100).alias("ci_lo"),
            (F.col("hi").cast("double") / 100).alias("ci_hi"),
        )
    )


# --- KMV distinct sketch with set intersection (round 7) --------------------

KMV_K = 64
_KMV_SPACE = 16**12  # md5_int(12 hex digits) ranges over [0, 2^48)


def kmv_sketch(du: DataFrame) -> DataFrame:
    """Per-type bottom-KMV_K sketch rows (t, u) from DISTINCT hashed
    (t, u) rows. Mergeable by construction: the bottom-k of a union is
    the bottom-k of the unioned sketches, so a standing sketch store
    absorbs batch partials by union → distinct → re-sketch — the
    streaming twin's merge rule (summary/finalize split, the KS/MG
    convention). Module-level so the foreachBatch twin and the batch
    query share one definition."""
    wk = Window.partitionBy("t").orderBy("u")
    return (
        du.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= KMV_K)
        .select("t", "u")
    )


def kmv_est_from_sketch(sk: DataFrame) -> DataFrame:
    """Finalize: pairwise intersection estimates (ta, tb,
    est_intersection) from a sketch table of (t, u) bottom-k rows —
    merged bottom-k estimates the union via (k−1)/v_k and the matched
    fraction ρ scales it to the intersection (Beyer et al. 2007).
    Sketches smaller than k ARE the set, so the estimate falls back to
    the exact ρ count. Pair merges touch k-row frames only."""
    types = sk.select("t").distinct()
    tp = types.select(F.col("t").alias("ta")).join(
        types.select(F.col("t").alias("tb")), F.col("ta") < F.col("tb")
    )
    part_a = tp.join(sk.withColumnRenamed("t", "ta"), "ta").select(
        "ta", "tb", "u", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    part_b = tp.join(sk.withColumnRenamed("t", "tb"), "tb").select(
        "ta", "tb", "u", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    m = (
        part_a.unionByName(part_b)
        .groupBy("ta", "tb", "u")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wm = Window.partitionBy("ta", "tb").orderBy("u")
    est = (
        m.withColumn("rk", F.row_number().over(wm))
        .filter(F.col("rk") <= KMV_K)
        .groupBy("ta", "tb")
        .agg(
            F.count("*").alias("cnt"),
            F.max("u").alias("vk"),
            F.sum(
                ((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("bigint")
            ).alias("rho"),
        )
    )
    est_val = F.when(F.col("cnt") < KMV_K, F.col("rho").cast("double")).otherwise(
        F.round(
            F.col("rho").cast("double")
            / KMV_K
            * (KMV_K - 1)
            * _KMV_SPACE
            / F.col("vk")
        )
    )
    return est.select(
        "ta", "tb", est_val.cast("bigint").alias("est_intersection")
    )


@query(
    "kmv_intersection_estimate",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT event_type AS t,
             {sql_md5_int("CAST(user_id AS VARCHAR)")} AS u
      FROM events
    ), sk AS (
      SELECT t, u FROM (
        SELECT t, u, ROW_NUMBER() OVER (PARTITION BY t ORDER BY u) AS rk
        FROM du)
      WHERE rk <= {KMV_K}
    ), tp AS (
      SELECT a.t AS ta, b.t AS tb
      FROM (SELECT DISTINCT t FROM sk) a JOIN (SELECT DISTINCT t FROM sk) b
        ON a.t < b.t
    ), m AS (
      SELECT ta, tb, u, MAX(in_a) AS in_a, MAX(in_b) AS in_b
      FROM (
        SELECT tp.ta, tp.tb, s.u, 1 AS in_a, 0 AS in_b
        FROM tp JOIN sk s ON s.t = tp.ta
        UNION ALL
        SELECT tp.ta, tp.tb, s.u, 0, 1 FROM tp JOIN sk s ON s.t = tp.tb
      ) GROUP BY ta, tb, u
    ), merged AS (
      SELECT ta, tb, u, in_a, in_b,
             ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY u) AS rk
      FROM m
    ), est AS (
      SELECT ta, tb, COUNT(*) AS cnt, MAX(u) AS vk,
             SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS rho
      FROM merged WHERE rk <= {KMV_K} GROUP BY ta, tb
    ), ud AS (
      SELECT DISTINCT event_type AS t, user_id FROM events
    ), exact_ AS (
      SELECT a.t AS ta, b.t AS tb, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM ud a JOIN ud b ON b.user_id = a.user_id AND a.t < b.t
      GROUP BY a.t, b.t
    )
    SELECT e.ta AS type_a, e.tb AS type_b,
           CAST(CASE WHEN e.cnt < {KMV_K} THEN e.rho
                ELSE ROUND(CAST(e.rho AS DOUBLE) / {KMV_K}
                           * ({KMV_K} - 1) * {_KMV_SPACE} / e.vk)
                END AS BIGINT) AS est_intersection,
           COALESCE(x.exact_cnt, 0) AS exact_intersection
    FROM est e LEFT JOIN exact_ x ON x.ta = e.ta AND x.tb = e.tb
    ORDER BY type_a, type_b
    """,
)
def kmv_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketches with SET INTERSECTION
    estimation — the capability HLL union cannot provide: per event
    type, the {KMV_K} smallest md5 hashes of its user set form a
    mergeable bottom-k sketch; for each type pair, the merged bottom-k
    estimates the union ((k−1)/v_k) and the fraction ρ of merged values
    present in BOTH sketches scales it to an intersection estimate
    (Beyer et al. 2007). Exact intersections computed alongside —
    at real scale they are the expensive join this sketch replaces.

    Determinism: the "random" hash is the engine-portable md5 integer
    (the repo's hashing contract); sketches are exact rank selections,
    so both engines carry byte-identical sketch contents; the only
    float is the final pinned estimator chain. Sketches smaller than k
    ARE the set — the estimate falls back to the exact ρ count via
    identical CASE guards.

    Scale shape: per-type bottom-k via group-partitioned window rank
    (mergeable across partitions/days — a standing sketch table with a
    foreachBatch twin, ``tests/test_streaming.py``); pair merges touch
    k-row frames; the exact twin is a keyed self-join of the distinct
    (type, user) table. Sketch + finalize live in ``kmv_sketch`` /
    ``kmv_est_from_sketch`` so batch and streaming share one
    definition."""
    ev = load(spark, sf_dir, "events")
    du = ev.select(
        F.col("event_type").alias("t"),
        md5_int(F.col("user_id").cast("string")).alias("u"),
    ).distinct()
    est = kmv_est_from_sketch(kmv_sketch(du))
    ud = ev.select(F.col("event_type").alias("t"), "user_id").distinct()
    exact = (
        ud.withColumnRenamed("t", "ta")
        .join(
            ud.select(F.col("t").alias("tb"), F.col("user_id").alias("u2")),
            (F.col("u2") == F.col("user_id")) & (F.col("ta") < F.col("tb")),
        )
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("exact_cnt"))
    )
    return (
        est.join(exact, ["ta", "tb"], "left")
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "est_intersection",
            F.coalesce(F.col("exact_cnt"), F.lit(0)).alias(
                "exact_intersection"
            ),
        )
        .orderBy("type_a", "type_b")
    )


# --- iterative proportional fitting / raking (round 7) ----------------------

IPF_ITERS = 6
IPF_PPM = 10**6


def ipf_weights_from_grid(grid: DataFrame, iters: int = IPF_ITERS) -> DataFrame:
    """Iterative proportional fitting (raking) on a (g1, g2, n, r_target,
    c_target) cell grid: alternating row/column scalings fit cell
    weights so the weighted counts hit both marginal targets — the
    survey-reweighting standard (Deming-Stephan 1940) and the 2D case
    of matrix scaling. Weights live in integer ppm with floor division,
    so every iteration is exact integer arithmetic — the PageRank
    integer-fixed-point convention — and both engines converge through
    byte-identical states. Module-level and iteration-parameterized so
    the property test can pit it against a scalar reference running the
    SAME integer recurrence.

    Scale shape: each half-iteration is one group-by on a grid axis +
    one broadcast join back — the grid is |D1|·|D2| cells (value-domain
    bounded), so the 2·iters stages are tiny; at 100 TB only the
    initial cell-count aggregate touches the fact table."""
    dec = "decimal(38,0)"

    def rake(w: DataFrame) -> DataFrame:
        rt = w.groupBy("g1").agg(
            F.sum(F.col("w") * F.col("n")).alias("row_tot")
        )
        w = (
            w.join(F.broadcast(rt), "g1")
            .withColumn(
                "w",
                int_div_exact(
                    F.col("w") * F.col("r_target").cast(dec) * IPF_PPM,
                    F.col("row_tot"),
                ),
            )
            .drop("row_tot")
        )
        ct = w.groupBy("g2").agg(
            F.sum(F.col("w") * F.col("n")).alias("col_tot")
        )
        return (
            w.join(F.broadcast(ct), "g2")
            .withColumn(
                "w",
                int_div_exact(
                    F.col("w") * F.col("c_target").cast(dec) * IPF_PPM,
                    F.col("col_tot"),
                ),
            )
            .drop("col_tot")
        )

    # round 1 reads the initial grid twice (the row totals and the join
    # back), so it is truncated too; later rounds are cut by iterate
    w0 = grid.withColumn("w", F.lit(IPF_PPM).cast(dec)).localCheckpoint(
        eager=False
    )
    return iterate(rake, w0, rounds=iters)[0]


def _sql_ipf_stage(i: int) -> str:
    return f"""rs{i} AS (
      SELECT g1, g2, n, r_target, c_target,
             w * r_target * {IPF_PPM}
               // SUM(w * n) OVER (PARTITION BY g1) AS w
      FROM w{i}
    ), w{i + 1} AS (
      SELECT g1, g2, n, r_target, c_target,
             w * c_target * {IPF_PPM}
               // SUM(w * n) OVER (PARTITION BY g2) AS w
      FROM rs{i}
    )"""


_IPF_STAGES = ",\n    ".join(_sql_ipf_stage(i) for i in range(IPF_ITERS))


@query(
    "ipf_raking_weights",
    oracle=f"""
    WITH cells AS (
      SELECT c_nationkey AS g1, c_mktsegment AS g2,
             CAST(COUNT(*) AS HUGEINT) AS n
      FROM customer GROUP BY 1, 2
    ), marg AS (
      SELECT CAST(SUM(n) AS HUGEINT) AS tot,
             CAST(COUNT(DISTINCT g1) AS HUGEINT) AS n1,
             CAST(COUNT(DISTINCT g2) AS HUGEINT) AS n2
      FROM cells
    ), w0 AS (
      SELECT g1, g2, n,
             (SELECT tot // n1 FROM marg) AS r_target,
             (SELECT tot // n2 FROM marg) AS c_target,
             CAST({IPF_PPM} AS HUGEINT) AS w
      FROM cells
    ),
    {_IPF_STAGES}
    SELECT CAST(g1 AS BIGINT) AS nationkey, g2 AS segment,
           CAST(n AS BIGINT) AS n_customers,
           ROUND(CAST(w AS DOUBLE) / {IPF_PPM}, 6) AS weight
    FROM w{IPF_ITERS}
    ORDER BY nationkey, segment
    """,
)
def ipf_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rake the customer base to uniform nation and segment margins:
    the per-cell weights that make every nation and every market
    segment carry equal weighted mass — what a survey/eval pipeline
    applies when its sample over-represents some strata (the same
    math rebalances a training-data mixture to target domain shares
    with two-way constraints, which single-axis reweighting like
    `domain_mixture_reweight` cannot).

    Determinism and the iteration: see :func:`ipf_weights_from_grid` —
    integer-ppm weights, floor-division scalings, byte-identical
    convergence; the oracle unrolls the same {IPF_ITERS} double-scaling
    stages as CTEs (the PageRank oracle pattern).

    Scale shape: one fact aggregate into the 25×5 cell grid; each
    scaling stage is a grid-axis group-by + broadcast join over 125
    rows."""
    cust = load(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    cells = cust.groupBy(
        F.col("c_nationkey").alias("g1"), F.col("c_mktsegment").alias("g2")
    ).agg(F.count("*").cast(dec).alias("n"))
    marg = cells.agg(
        F.sum("n").alias("tot"),
        F.countDistinct("g1").alias("n1"),
        F.countDistinct("g2").alias("n2"),
    )
    grid = cells.crossJoin(F.broadcast(marg)).select(
        "g1",
        "g2",
        "n",
        F.expr("cast(tot as bigint) div n1").alias("r_target"),
        F.expr("cast(tot as bigint) div n2").alias("c_target"),
    )
    w = ipf_weights_from_grid(grid)
    return w.select(
        F.col("g1").cast("bigint").alias("nationkey"),
        F.col("g2").alias("segment"),
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(F.col("w").cast("double") / IPF_PPM, 6).alias("weight"),
    ).orderBy("nationkey", "segment")


# --- Neyman allocation with exact apportionment (round 7) -------------------

NEYMAN_BUDGET = 1000


@query(
    "neyman_allocation",
    oracle=f"""
    WITH m AS (
      SELECT c.c_mktsegment AS segment,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             SUM(CAST(ROUND(o.o_totalprice * 1e2) AS HUGEINT)) AS s1,
             SUM(CAST(ROUND(o.o_totalprice * 1e2) AS HUGEINT)
                 * CAST(ROUND(o.o_totalprice * 1e2) AS HUGEINT)) AS s2
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ), w AS (
      SELECT segment, n_h,
             -- weight_i2 = N_h * std_h in integer cents, rounded once
             CAST(ROUND(n_h * sqrt(GREATEST(
               CAST(s2 AS DOUBLE) / n_h
               - (CAST(s1 AS DOUBLE) / n_h) * (CAST(s1 AS DOUBLE) / n_h),
               0))) AS BIGINT) AS wgt
      FROM m
    ), tot AS (
      SELECT CAST(SUM(wgt) AS HUGEINT) AS wt, CAST(SUM(n_h) AS BIGINT) AS nt
      FROM w
    ), quota AS (
      SELECT segment, n_h, wgt,
             CAST(CAST(wgt AS HUGEINT) * {NEYMAN_BUDGET} // wt AS BIGINT)
               AS base,
             CAST(CAST(wgt AS HUGEINT) * {NEYMAN_BUDGET} % wt AS BIGINT)
               AS rem
      FROM w, tot
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, segment) AS rr,
             CAST({NEYMAN_BUDGET} - SUM(base) OVER () AS BIGINT) AS leftover
      FROM quota
    )
    SELECT r.segment, r.n_h,
           ROUND(CAST(r.wgt AS DOUBLE) / 100, 2) AS neyman_weight,
           CAST(r.base + CASE WHEN r.rr <= r.leftover THEN 1 ELSE 0 END
                AS BIGINT) AS allocated,
           CAST(CAST(r.n_h AS HUGEINT) * {NEYMAN_BUDGET} // t.nt AS BIGINT)
             AS proportional
    FROM ranked r, tot t
    ORDER BY segment
    """,
)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation: for a
    {NEYMAN_BUDGET}-row sampling budget over the market segments,
    allocate n_h ∝ N_h·S_h (stratum size × stratum std of order value)
    — the design that minimizes the estimator variance, next to the
    proportional allocation it beats when strata differ in spread.
    Integer seats come from largest-remainder (Hamilton) apportionment,
    so the allocations sum EXACTLY to the budget.

    Determinism: stratum moments are exact integers; each weight
    rounds once to integer cents; quotas use exact integer floor
    division with the remainder ranked under a (rem DESC, segment)
    total order — apportionment is integer arithmetic end-to-end, no
    float seat ever materializes.

    Scale shape: one map-side-combinable stratum aggregate; everything
    after it is ≤|strata|-row arithmetic (the leftover window runs over
    5 rows)."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    v = F.round(F.col("o_totalprice") * 100).cast("bigint")
    m = (
        orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .select(F.col("c_mktsegment").alias("segment"), v.alias("v"))
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_h"),
            F.sum(F.col("v").cast(dec)).alias("s1"),
            F.sum(F.col("v").cast(dec) * F.col("v")).alias("s2"),
        )
    )
    mu = F.col("s1").cast("double") / F.col("n_h")
    var = F.greatest(
        F.col("s2").cast("double") / F.col("n_h") - mu * mu, F.lit(0.0)
    )
    w = m.select(
        "segment",
        "n_h",
        F.round(F.col("n_h") * F.sqrt(var)).cast("bigint").alias("wgt"),
    )
    tot = w.agg(
        F.sum(F.col("wgt").cast(dec)).alias("wt"), F.sum("n_h").alias("nt")
    )
    quota = w.crossJoin(F.broadcast(tot)).select(
        "segment",
        "n_h",
        "wgt",
        "nt",
        int_div_exact(F.col("wgt").cast(dec) * NEYMAN_BUDGET, F.col("wt"))
        .cast("bigint")
        .alias("base"),
        (F.col("wgt").cast(dec) * NEYMAN_BUDGET % F.col("wt"))
        .cast(dec)
        .alias("rem"),
    )
    wr = Window.orderBy(F.desc("rem"), "segment")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = quota.withColumn("rr", F.row_number().over(wr)).withColumn(
        "leftover", NEYMAN_BUDGET - F.sum("base").over(wall)
    )
    return ranked.select(
        "segment",
        "n_h",
        F.round(F.col("wgt").cast("double") / 100, 2).alias("neyman_weight"),
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("allocated"),
        int_div_exact(
            F.col("n_h").cast(dec) * NEYMAN_BUDGET, F.col("nt").cast(dec)
        )
        .cast("bigint")
        .alias("proportional"),
    ).orderBy("segment")


# --- heavy-tail index + multivariate outliers (round 7) ---------------------

HILL_K = 200


@query(
    "hill_tail_index",
    oracle=f"""
    WITH topk AS (
      SELECT CAST(ROUND(o_totalprice * 1e2) AS BIGINT) AS v
      FROM orders
      ORDER BY v DESC, o_orderkey LIMIT {HILL_K + 1}
    ), mink AS (
      SELECT MIN(v) AS vk, CAST(COUNT(*) AS BIGINT) AS cnt FROM topk
    ), lsum AS (
      SELECT SUM(CAST(ROUND(ln(CAST(t.v AS DOUBLE) / m.vk) * 1e6) AS BIGINT))
               AS s6,
             m.vk, m.cnt
      FROM topk t, mink m
      WHERE t.v > m.vk
      GROUP BY m.vk, m.cnt
    )
    SELECT CAST(cnt - 1 AS BIGINT) AS k_used,
           CAST(vk AS DOUBLE) / 100 AS threshold,
           CASE WHEN s6 > 0 THEN
             ROUND(CAST(cnt - 1 AS DOUBLE) * 1e6 / s6, 6) END AS hill_alpha,
           CASE WHEN s6 > 0 THEN
             ROUND(CAST(s6 AS DOUBLE) / (cnt - 1) / 1e6, 6) END AS mean_log_excess
    FROM lsum
    """,
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the heavy-tail index over the top-{HILL_K}
    order values: α̂ = k / Σ ln(x_(i)/x_(k+1)) — the standard tail-
    thickness readout (α ≤ 2 ⇒ infinite variance: means and z-tests
    stop being meaningful; the companion diagnostic to
    `zipf_exponent_fit`, which fits frequencies where this fits
    magnitudes). Heavy tails are exactly where skew-handling budgets
    (salting, AQE) get spent, so the index doubles as a planning
    signal.

    Determinism: the top-(k+1) set is a TakeOrdered under a (value,
    key) total order; each log excess rounds once to i6 (the repo's ln
    contract) and the sum is then exact integer; α̂ is one pinned
    division. Ties with the threshold drop out of the sum identically
    in both engines (v > v_k).

    Scale shape: TakeOrdered(k+1) — map-side partial top-k, no sort of
    the table; the rest is k-row arithmetic."""
    orders = load(spark, sf_dir, "orders")
    topk = (
        orders.select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            "o_orderkey",
        )
        .orderBy(F.desc("v"), "o_orderkey")
        .limit(HILL_K + 1)
    )
    mink = topk.agg(F.min("v").alias("vk"), F.count("*").alias("cnt"))
    lsum = (
        topk.crossJoin(F.broadcast(mink))
        .filter(F.col("v") > F.col("vk"))
        .groupBy("vk", "cnt")
        .agg(
            F.sum(
                F.round(
                    F.log(F.col("v").cast("double") / F.col("vk")) * 1e6
                ).cast("bigint")
            ).alias("s6")
        )
    )
    ok = F.col("s6") > 0
    return lsum.select(
        (F.col("cnt") - 1).cast("bigint").alias("k_used"),
        (F.col("vk").cast("double") / 100).alias("threshold"),
        F.when(
            ok,
            F.round((F.col("cnt") - 1).cast("double") * 1e6 / F.col("s6"), 6),
        ).alias("hill_alpha"),
        F.when(
            ok,
            F.round(F.col("s6").cast("double") / (F.col("cnt") - 1) / 1e6, 6),
        ).alias("mean_log_excess"),
    )


MAHA_TOP = 20


@query(
    "mahalanobis_outliers",
    oracle=f"""
    WITH rows_ AS (
      SELECT l_orderkey, l_linenumber,
             CAST(ROUND(l_quantity * 1e2) AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 1e2) AS BIGINT) AS y
      FROM lineitem
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM rows_
    ), cov AS (
      SELECT n,
             CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
             CAST(n * sxx - sx * sx AS DOUBLE) / n / n AS vxx,
             CAST(n * sxy - sx * sy AS DOUBLE) / n / n AS vxy,
             CAST(n * syy - sy * sy AS DOUBLE) / n / n AS vyy
      FROM m
    ), scored AS (
      SELECT r.l_orderkey, r.l_linenumber,
             CAST(r.x AS DOUBLE) / 100 AS quantity,
             CAST(r.y AS DOUBLE) / 100 AS price,
             CAST(ROUND(
               ((r.x - c.mx) * (r.x - c.mx) * c.vyy
                - 2 * (r.x - c.mx) * (r.y - c.my) * c.vxy
                + (r.y - c.my) * (r.y - c.my) * c.vxx)
               / (c.vxx * c.vyy - c.vxy * c.vxy) * 1e6) AS BIGINT) AS d2_i6
      FROM rows_ r, cov c
      WHERE c.vxx * c.vyy - c.vxy * c.vxy > 0
    )
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           quantity, price,
           ROUND(d2_i6 / 1e6, 6) AS mahalanobis_d2
    FROM scored
    ORDER BY d2_i6 DESC, orderkey, linenumber LIMIT {MAHA_TOP}
    """,
)
def mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outliers by Mahalanobis distance on (quantity,
    price): the covariance-aware distance that flags rows UNUSUAL FOR
    THE JOINT distribution — a cheap line that is normal on both axes
    separately (what `zscore_outliers`/`mad_value_outliers` check)
    still screams here if quantity and price disagree with their usual
    relationship. The 2×2 inverse is closed-form, so the whole score is
    scan-side arithmetic.

    Determinism: the five covariance moments are exact integers; the
    per-row d² is one pinned double chain frozen to i6 BEFORE the
    argmax, ranked under a (d², orderkey, linenumber) total order;
    degenerate covariance (singular) yields zero rows via identical
    guards.

    Scale shape: one scalar moment aggregate + one broadcast of the
    5-number covariance back onto the scan; top-k is TakeOrdered —
    the fact table is scanned twice and sorted never."""
    li = load(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    rows = li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    m = rows.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov = m.select(
        (F.col("sx").cast("double") / F.col("n")).alias("mx"),
        (F.col("sy").cast("double") / F.col("n")).alias("my"),
        ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double") / nd / nd).alias("vxx"),
        ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / nd / nd).alias("vxy"),
        ((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double") / nd / nd).alias("vyy"),
    )
    det = F.col("vxx") * F.col("vyy") - F.col("vxy") * F.col("vxy")
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    d2 = (
        dx * dx * F.col("vyy") - 2 * dx * dy * F.col("vxy") + dy * dy * F.col("vxx")
    ) / det
    scored = (
        rows.crossJoin(F.broadcast(cov))
        .filter(det > 0)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            (F.col("x").cast("double") / 100).alias("quantity"),
            (F.col("y").cast("double") / 100).alias("price"),
            F.round(d2 * 1e6).cast("bigint").alias("d2_i6"),
        )
    )
    return (
        scored.orderBy(F.desc("d2_i6"), "orderkey", "linenumber")
        .limit(MAHA_TOP)
        .select(
            "orderkey",
            "linenumber",
            "quantity",
            "price",
            F.round(F.col("d2_i6") / 1e6, 6).alias("mahalanobis_d2"),
        )
        .orderBy(F.desc("mahalanobis_d2"), "orderkey", "linenumber")
    )


@query(
    "cochran_armitage_trend",
    oracle="""
    WITH rows_ AS (
      SELECT CAST(ROUND(l_discount * 1e2) AS BIGINT) AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem
    ), g AS (
      SELECT s, CAST(SUM(pos) AS BIGINT) AS r_i, CAST(COUNT(*) AS BIGINT) AS n_i
      FROM rows_ GROUP BY s
    ), m AS (
      SELECT CAST(SUM(n_i) AS HUGEINT) AS n, CAST(SUM(r_i) AS HUGEINT) AS r,
             SUM(CAST(s AS HUGEINT) * n_i) AS sn,
             SUM(CAST(s AS HUGEINT) * r_i) AS sr,
             SUM(CAST(s AS HUGEINT) * s * n_i) AS ssn,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM g
    )
    SELECT k AS n_levels, CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS n_pos,
           CASE WHEN n > 1 AND r > 0 AND r < n AND n * ssn > sn * sn THEN
             ROUND(CAST(n * sr - r * sn AS DOUBLE) * sqrt(CAST(n AS DOUBLE))
                   / sqrt(CAST(r AS DOUBLE) * (n - r))
                   / sqrt(CAST(n * ssn - sn * sn AS DOUBLE)), 9)
           END AS z_trend
    FROM m
    """,
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for TREND in proportions across ordered
    discount levels: does the return rate increase monotonically with
    discount? Chi-square independence (`chi_square_independence`)
    ignores the ordering and wastes power; this is the one-degree-of-
    freedom test experimentation and epidemiology use when the factor
    is a dose. Scores are the discount cents themselves (the canonical
    choice), so T = Σ s·(r_i − n_i·p̄) and z = T/√(p̄q̄·Σn(s−s̄)²).

    Determinism: all five moments are exact HUGEINT/decimal integers
    off one histogram; z is one pinned double chain rounded to 9, NULL
    under the identical degenerate guards (single level, all-positive,
    all-negative, zero score variance).

    Scale shape: one map-side-combinable level histogram + one k-row
    scalar reduction; nothing else."""
    li = load(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    g = (
        li.select(
            F.round(F.col("l_discount") * 100).cast("bigint").alias("s"),
            (F.col("l_returnflag") == "R").cast("bigint").alias("pos"),
        )
        .groupBy("s")
        .agg(F.sum("pos").alias("r_i"), F.count("*").alias("n_i"))
    )
    m = g.agg(
        F.sum(F.col("n_i").cast(dec)).alias("n"),
        F.sum(F.col("r_i").cast(dec)).alias("r"),
        F.sum(F.col("s").cast(dec) * F.col("n_i")).alias("sn"),
        F.sum(F.col("s").cast(dec) * F.col("r_i")).alias("sr"),
        F.sum(F.col("s").cast(dec) * F.col("s") * F.col("n_i")).alias("ssn"),
        F.count("*").alias("k"),
    )
    num = (F.col("n") * F.col("sr") - F.col("r") * F.col("sn")).cast("double")
    vars = (F.col("n") * F.col("ssn") - F.col("sn") * F.col("sn")).cast("double")
    rq = F.col("r").cast("double") * (F.col("n") - F.col("r")).cast("double")
    ok = (
        (F.col("n") > 1)
        & (F.col("r") > 0)
        & (F.col("r") < F.col("n"))
        & (vars > 0)
    )
    return m.select(
        F.col("k").alias("n_levels"),
        F.col("n").cast("bigint").alias("n"),
        F.col("r").cast("bigint").alias("n_pos"),
        F.when(
            ok,
            F.round(
                num * F.sqrt(F.col("n").cast("double")) / F.sqrt(rq) / F.sqrt(vars),
                9,
            ),
        ).alias("z_trend"),
    )


# --- effect sizes and agreement (round 7) -----------------------------------


@query(
    "risk_ratio_odds_ratio",
    oracle=f"""
    WITH rows_ AS (
      SELECT CASE WHEN (l_orderkey * {506952113}) % 2 = 1 THEN 1 ELSE 0 END
               AS tr,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem
    ), m AS (
      SELECT CAST(SUM(tr * pos) AS BIGINT) AS a,
             CAST(SUM(tr * (1 - pos)) AS BIGINT) AS b,
             CAST(SUM((1 - tr) * pos) AS BIGINT) AS c,
             CAST(SUM((1 - tr) * (1 - pos)) AS BIGINT) AS d
      FROM rows_
    )
    SELECT a, b, c, d,
           CASE WHEN a > 0 AND c > 0 AND a + b > 0 AND c + d > 0 THEN
             ROUND(CAST(a AS DOUBLE) * (c + d) / ((a + b) * CAST(c AS DOUBLE)), 6)
           END AS risk_ratio,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             ROUND(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6)
           END AS odds_ratio,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             ROUND(exp(CAST(ROUND(ln(CAST(a AS DOUBLE) * d
                                     / (CAST(b AS DOUBLE) * c)) * 1e6) AS BIGINT)
                       / 1e6
                       - 1.959963985
                         * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 6)
           END AS or_ci_lo,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             ROUND(exp(CAST(ROUND(ln(CAST(a AS DOUBLE) * d
                                     / (CAST(b AS DOUBLE) * c)) * 1e6) AS BIGINT)
                       / 1e6
                       + 1.959963985
                         * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 6)
           END AS or_ci_hi
    FROM m
    """,
)
def risk_ratio_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect sizes for the 2×2 treated/control × returned/kept table:
    risk ratio, odds ratio, and the Woolf 95% log-CI for the OR — the
    epidemiology-standard companions to the z-test (`ab_test_uplift`
    answers "is there an effect", these answer "how big", which is what
    a launch decision actually needs).

    Determinism: the four cells are exact integer conditional sums off
    one scan; RR/OR are pinned double chains; the CI pins its ln to i6
    (the repo's ln contract) before the ± which keeps both engines on
    the same value; all-zero-margin degeneracies return NULL under
    identical guards.

    Scale shape: one scalar aggregate. Nothing else. The arm hash is
    model_eval's _PRIME multiplicative split (2654435761 mod 2^31 =
    506952113, kept literal here so the oracle f-string and the Spark
    side read identically without a cross-module import): past ~1.8e10
    orderkeys the int64 product would ANSI-error loudly, never wrap —
    switch the bucketing to xxhash64 there (the bound model_eval
    documents for the same constant)."""
    li = load(spark, sf_dir, "lineitem")
    # 506952113 == model_eval._PRIME; overflow bound documented above
    tr = ((F.col("l_orderkey") * 506952113) % 2 == 1).cast("bigint")
    pos = (F.col("l_returnflag") == "R").cast("bigint")
    m = li.select(tr.alias("tr"), pos.alias("pos")).agg(
        F.sum(F.col("tr") * F.col("pos")).alias("a"),
        F.sum(F.col("tr") * (1 - F.col("pos"))).alias("b"),
        F.sum((1 - F.col("tr")) * F.col("pos")).alias("c"),
        F.sum((1 - F.col("tr")) * (1 - F.col("pos"))).alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    ad, bd_, cd_, dd_ = (x.cast("double") for x in (a, b, c, d))
    ok_rr = (a > 0) & (c > 0) & (a + b > 0) & (c + d > 0)
    ok_or = (a > 0) & (b > 0) & (c > 0) & (d > 0)
    or_ = ad * dd_ / (bd_ * cd_)
    lnor6 = F.round(F.log(or_) * 1e6).cast("bigint") / 1e6
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    z = 1.959963985
    return m.select(
        "a",
        "b",
        "c",
        "d",
        F.when(ok_rr, F.round(ad * (c + d) / ((a + b) * cd_), 6)).alias(
            "risk_ratio"
        ),
        F.when(ok_or, F.round(or_, 6)).alias("odds_ratio"),
        F.when(ok_or, F.round(F.exp(lnor6 - z * se), 6)).alias("or_ci_lo"),
        F.when(ok_or, F.round(F.exp(lnor6 + z * se), 6)).alias("or_ci_hi"),
    )


@query(
    "cohens_kappa_agreement",
    oracle="""
    WITH rows_ AS (
      SELECT CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS r1,
             CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS r2
      FROM lineitem
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r1 * r2) AS BIGINT) AS both_,
             CAST(SUM(r1) AS BIGINT) AS n1,
             CAST(SUM(r2) AS BIGINT) AS n2,
             CAST(SUM((1 - r1) * (1 - r2)) AS BIGINT) AS neither
      FROM rows_
    )
    SELECT n, both_ AS both_flag, neither AS neither_flag,
           ROUND(CAST(both_ + neither AS DOUBLE) / n, 6) AS observed_agreement,
           CASE WHEN CAST(n AS HUGEINT) * n
                      > CAST(n1 AS HUGEINT) * n2
                        + CAST(n - n1 AS HUGEINT) * (n - n2) THEN
             ROUND((CAST(both_ + neither AS DOUBLE) / n
                    - (CAST(n1 AS DOUBLE) * n2
                       + CAST(n - n1 AS DOUBLE) * (n - n2)) / n / n)
                   / (1 - (CAST(n1 AS DOUBLE) * n2
                           + CAST(n - n1 AS DOUBLE) * (n - n2)) / n / n), 6)
           END AS cohens_kappa
    FROM m
    """,
)
def cohens_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two binary 'raters' (here two cheap
    heuristic flags: deep-discount vs bulk-quantity): agreement beyond
    what their marginal rates produce by chance — the metric for
    comparing two labelers, two quality filters, or two dedup methods
    before trusting either as ground truth. Raw agreement alone is
    inflated whenever both raters mostly say 'no'; kappa removes that.

    Determinism: the contingency cells and marginals are exact integer
    conditional sums; κ = (p_o − p_e)/(1 − p_e) is one pinned double
    chain rounded to 6, NULL when chance agreement is total (a
    degenerate rater) under identical HUGEINT-exact guards.

    Scale shape: one scalar aggregate off one scan."""
    li = load(spark, sf_dir, "lineitem")
    r1 = (F.col("l_discount") >= 0.05).cast("bigint")
    r2 = (F.col("l_quantity") >= 25).cast("bigint")
    m = li.select(r1.alias("r1"), r2.alias("r2")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("r1") * F.col("r2")).alias("both_"),
        F.sum("r1").alias("n1"),
        F.sum("r2").alias("n2"),
        F.sum((1 - F.col("r1")) * (1 - F.col("r2"))).alias("neither"),
    )
    dec = "decimal(38,0)"
    nd = F.col("n").cast("double")
    po = (F.col("both_") + F.col("neither")).cast("double") / nd
    pe = (
        F.col("n1").cast("double") * F.col("n2")
        + (F.col("n") - F.col("n1")).cast("double") * (F.col("n") - F.col("n2"))
    ) / nd / nd
    ok = (
        F.col("n").cast(dec) * F.col("n")
        > F.col("n1").cast(dec) * F.col("n2")
        + (F.col("n") - F.col("n1")).cast(dec) * (F.col("n") - F.col("n2"))
    )
    return m.select(
        "n",
        F.col("both_").alias("both_flag"),
        F.col("neither").alias("neither_flag"),
        F.round(po, 6).alias("observed_agreement"),
        F.when(ok, F.round((po - pe) / (1 - pe), 6)).alias("cohens_kappa"),
    )


# --- round 8: classical-test completions ------------------------------------


@query(
    "kruskal_wallis_priority_spend",
    oracle="""
    WITH rows_ AS (
      SELECT o_orderpriority AS g,
             CAST(ROUND(o_totalprice * 1e2) AS BIGINT) AS v
      FROM orders
    ), gv AS (
      SELECT g, v, COUNT(*) AS c_gv FROM rows_ GROUP BY g, v
    ), hv AS (
      SELECT v, SUM(c_gv) AS ct,
             COALESCE(SUM(SUM(c_gv)) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM gv GROUP BY v
    ), rg AS (
      SELECT gv.g, CAST(SUM(gv.c_gv) AS BIGINT) AS n_g,
             SUM(CAST(gv.c_gv AS HUGEINT) * (2 * hv.cb + hv.ct + 1)) AS r2_g
      FROM gv JOIN hv ON hv.v = gv.v GROUP BY gv.g
    ), tie AS (
      SELECT SUM(CAST(ct AS HUGEINT) * ct * ct - ct) AS tsum FROM hv
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
             SUM(r2_g * r2_g * 100 // (4 * CAST(n_g AS HUGEINT))) AS bsum_i2
      FROM rg
    ), h AS (
      SELECT m.k, m.n, tie.tsum,
             CASE WHEN m.k >= 2 AND m.n > m.k
                       AND tie.tsum < CAST(m.n AS HUGEINT) * m.n * m.n - m.n
             THEN ROUND(
               (12.0 * (CAST(bsum_i2 AS DOUBLE) / 100)
                  / (CAST(m.n AS DOUBLE) * (m.n + 1))
                - 3.0 * (m.n + 1))
               / (1.0 - CAST(tie.tsum AS DOUBLE)
                    / (CAST(m.n AS DOUBLE) * m.n * m.n - m.n)), 6)
             END AS h_stat
      FROM m CROSS JOIN tie
    )
    SELECT rg.g AS priority, rg.n_g,
           ROUND(CAST(rg.r2_g AS DOUBLE) / 2 / rg.n_g, 6) AS mean_rank,
           h.h_stat, CAST(h.k - 1 AS BIGINT) AS dof
    FROM rg CROSS JOIN h
    ORDER BY priority
    """,
)
def kruskal_wallis_priority_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test: do the five order priorities draw spend
    from the same distribution? The k-group generalization of
    ``mann_whitney_segment_spend`` and the rank (distribution-robust)
    twin of ``anova_f_segment_spend`` — the test to reach for when
    spend is heavy-tailed and a k-group mean comparison would mislead.
    Output: each group's size and mean rank, with the tie-corrected H
    and its degrees of freedom on every row.

    Determinism: midranks come from the VALUE-DOMAIN histogram as the
    integer ``2·cum_before + ct + 1`` (the mann_whitney contract), so
    each group's doubled rank sum R2_g is exact decimal(38,0)/HUGEINT;
    the between term freezes to exact i2 integers via the ANOVA idiom
    (``R2_g²·100 div (4·n_g)``, int_div_exact — no doubles touch the
    heavy sums); H is ONE pinned scalar chain over those integers with
    the tie term Σ(t³−t) exact, rounded to 6. All-tied feeds return
    NULL H via identical guards. R2_g²·100 stays inside decimal(38) to
    ~1e8 rows per group in cents; rescale v to dollars past that.

    Cross-engine cast bound (tighter than the decimal(38) one): the
    final ``CAST(bsum_i2 AS DOUBLE)`` leaves the integer domain, and
    bsum_i2 grows ~100·n³ — past ~6e5 orders (~sf0.4) it exceeds 2^64
    and DuckDB's HUGEINT→DOUBLE conversion enters its double-rounding
    regime while Spark rounds the decimal once, so the two doubles can
    differ in the last bit (~1e-9 relative; a 6-decimal flip needs H to
    sit within 5e-7 of a rounding boundary). The integers themselves
    stay exact and identical in both engines to the decimal(38) bound;
    only this one cast is engine-sensitive. Rescale v to dollars (or
    compare at coarser rounding) beyond sf0.4 if bit-parity of h_stat
    must be preserved.

    Scale shape: ONE fact aggregate — the (group, value) cell table —
    whose shuffle both consumers reuse (the global value histogram
    re-reduces the cells; ReusedExchange, plan-checked); the only
    window is the exclusive cum-count over DISTINCT ORDER VALUES (the
    documented bounded-domain exception); the rank-sum join is
    value-keyed; the H reduction runs on k rows."""
    orders = load(spark, sf_dir, "orders")
    rows = orders.select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    # ONE fact scan: the (group, value) cell table is the only fact
    # aggregate, checkpointed because FOUR lineages consume it (hv -> tie,
    # rg -> m, and both join back for the output) — without it the scan
    # replays per consumer (measured: 5 scans).
    gv = rows.groupBy("g", "v").agg(F.count("*").alias("c_gv")).localCheckpoint()
    hv = cum_counts_over_values(
        gv.groupBy("v").agg(F.sum("c_gv").alias("ct")), "v", "ct", "cb"
    )
    dec = "decimal(38,0)"
    rg = (
        gv.join(hv, "v")
        .groupBy("g")
        .agg(
            F.sum("c_gv").alias("n_g"),
            F.sum(
                F.col("c_gv").cast(dec) * (2 * F.col("cb") + F.col("ct") + 1)
            ).alias("r2_g"),
        )
    )
    tie = hv.agg(
        F.sum(
            F.col("ct").cast(dec) * F.col("ct") * F.col("ct") - F.col("ct")
        ).alias("tsum")
    )
    m = rg.agg(
        F.count("*").alias("k"),
        F.sum("n_g").alias("n"),
        F.sum(
            int_div_exact(
                F.col("r2_g") * F.col("r2_g") * 100,
                F.col("n_g").cast(dec) * 4,
            )
        ).alias("bsum_i2"),
    )
    nd = F.col("n").cast("double")
    ok = (
        (F.col("k") >= 2)
        & (F.col("n") > F.col("k"))
        & (
            F.col("tsum")
            < F.col("n").cast(dec) * F.col("n") * F.col("n") - F.col("n")
        )
    )
    h_raw = (
        12.0 * (F.col("bsum_i2").cast("double") / 100) / (nd * (nd + 1))
        - 3.0 * (nd + 1)
    ) / (1.0 - F.col("tsum").cast("double") / (nd * nd * nd - nd))
    h = m.crossJoin(F.broadcast(tie)).select(
        "k", "n", F.when(ok, F.round(h_raw, 6)).alias("h_stat")
    )
    return (
        rg.crossJoin(F.broadcast(h))
        .select(
            F.col("g").alias("priority"),
            "n_g",
            F.round(
                F.col("r2_g").cast("double") / 2 / F.col("n_g"), 6
            ).alias("mean_rank"),
            "h_stat",
            (F.col("k") - 1).cast("bigint").alias("dof"),
        )
        .orderBy("priority")
    )


@query(
    "welch_t_spend",
    oracle=f"""
    WITH rows_ AS (
      SELECT CASE WHEN c.c_mktsegment = '{MW_SEG_A}' THEN 1 ELSE 0 END AS is_a,
             CAST(ROUND(o.o_totalprice * 1e2) AS BIGINT) AS v
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('{MW_SEG_A}', '{MW_SEG_B}')
    ), g AS (
      SELECT is_a, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(v AS HUGEINT)) AS s1,
             SUM(CAST(v AS HUGEINT) * v) AS s2
      FROM rows_ GROUP BY is_a
    ), wide AS (
      SELECT MAX(CASE WHEN is_a = 1 THEN n END) AS n_a,
             MAX(CASE WHEN is_a = 1 THEN s1 END) AS s1_a,
             MAX(CASE WHEN is_a = 1 THEN s2 END) AS s2_a,
             MAX(CASE WHEN is_a = 0 THEN n END) AS n_b,
             MAX(CASE WHEN is_a = 0 THEN s1 END) AS s1_b,
             MAX(CASE WHEN is_a = 0 THEN s2 END) AS s2_b
      FROM g
    ), c AS (
      SELECT n_a, n_b,
             CAST(s1_a AS DOUBLE) / n_a AS m_a,
             CAST(s1_b AS DOUBLE) / n_b AS m_b,
             (CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * s1_a / n_a)
               / (n_a - 1) / n_a AS va_n,
             (CAST(s2_b AS DOUBLE) - CAST(s1_b AS DOUBLE) * s1_b / n_b)
               / (n_b - 1) / n_b AS vb_n
      FROM wide WHERE n_a >= 2 AND n_b >= 2
    )
    SELECT n_a, n_b,
           ROUND(m_a / 100, 6) AS mean_a,
           ROUND(m_b / 100, 6) AS mean_b,
           CASE WHEN va_n + vb_n > 0 THEN
             ROUND((m_a - m_b) / sqrt(va_n + vb_n), 6) END AS t_stat,
           CASE WHEN va_n + vb_n > 0 AND va_n * vb_n > 0 THEN
             ROUND((va_n + vb_n) * (va_n + vb_n)
                   / (va_n * va_n / (n_a - 1) + vb_n * vb_n / (n_b - 1)), 6)
           WHEN va_n + vb_n > 0 THEN NULL END AS welch_df
    FROM c
    """,
)
def welch_t_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on order value between the
    {MW_SEG_A} and {MW_SEG_B} segments, with the Welch-Satterthwaite
    degrees of freedom — the parametric companion to
    ``mann_whitney_segment_spend`` and the default two-sample mean test
    (Student's equal-variance t is the special case nobody should
    assume). ``ab_test_uplift`` covers proportions; this covers means.

    Determinism: each arm contributes three exact integer moments
    (n, Σv, Σv² in cents, decimal(38,0)/HUGEINT); means, variances, t,
    and df are ONE pinned scalar chain over the 2-row pivot, rounded to
    6. Arms with n<2 produce no row; zero pooled variance returns NULL
    t; a zero single-arm variance returns NULL df (the W-S denominator
    degenerates) under identical guards.

    Scale shape: one map-side-combinable 2-group moment aggregate over
    the broadcast-dim join; everything after runs on the 1-row pivot."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin(MW_SEG_A, MW_SEG_B)
    )
    dec = "decimal(38,0)"
    rows = orders.join(
        F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")
    ).select(
        (F.col("c_mktsegment") == MW_SEG_A).cast("int").alias("is_a"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    g = rows.groupBy("is_a").agg(
        F.count("*").alias("n"),
        F.sum(F.col("v").cast(dec)).alias("s1"),
        F.sum(F.col("v").cast(dec) * F.col("v")).alias("s2"),
    )
    pick = lambda cond, c: F.max(F.when(cond, F.col(c)))  # noqa: E731
    wide = g.agg(
        pick(F.col("is_a") == 1, "n").alias("n_a"),
        pick(F.col("is_a") == 1, "s1").alias("s1_a"),
        pick(F.col("is_a") == 1, "s2").alias("s2_a"),
        pick(F.col("is_a") == 0, "n").alias("n_b"),
        pick(F.col("is_a") == 0, "s1").alias("s1_b"),
        pick(F.col("is_a") == 0, "s2").alias("s2_b"),
    ).filter((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    m_a = F.col("s1_a").cast("double") / F.col("n_a")
    m_b = F.col("s1_b").cast("double") / F.col("n_b")
    va_n = (
        (F.col("s2_a").cast("double") - F.col("s1_a").cast("double") * F.col("s1_a") / F.col("n_a"))
        / (F.col("n_a") - 1)
        / F.col("n_a")
    )
    vb_n = (
        (F.col("s2_b").cast("double") - F.col("s1_b").cast("double") * F.col("s1_b") / F.col("n_b"))
        / (F.col("n_b") - 1)
        / F.col("n_b")
    )
    se2 = va_n + vb_n
    t = F.round((m_a - m_b) / F.sqrt(se2), 6)
    df = F.round(
        se2 * se2
        / (va_n * va_n / (F.col("n_a") - 1) + vb_n * vb_n / (F.col("n_b") - 1)),
        6,
    )
    return wide.select(
        "n_a",
        "n_b",
        F.round(m_a / 100, 6).alias("mean_a"),
        F.round(m_b / 100, 6).alias("mean_b"),
        F.when(se2 > 0, t).alias("t_stat"),
        F.when((se2 > 0) & (va_n * vb_n > 0), df).alias("welch_df"),
    )


@query(
    "wasserstein_value_drift",
    oracle=f"""
    WITH rows_ AS (
      SELECT CAST(ROUND(value * 1e2) AS BIGINT) AS v,
             CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END AS b
      FROM events WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
    ), hist AS (
      SELECT v, SUM(a) AS c1, SUM(b) AS c2 FROM rows_ GROUP BY v
    ), cum AS (
      SELECT v,
             SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f1,
             SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS f2,
             LEAD(v) OVER (ORDER BY v) AS v_next
      FROM hist
    ), tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
      FROM hist
    ), num AS (
      SELECT SUM(abs(CAST(f1 AS HUGEINT) * n2 - CAST(f2 AS HUGEINT) * n1)
                 * (v_next - v)) AS w1_num
      FROM cum CROSS JOIN tot WHERE v_next IS NOT NULL
    )
    SELECT n1, n2,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             ROUND(CAST(COALESCE(w1_num, 0) AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * n2) / 100, 9) END AS w1_distance
    FROM tot CROSS JOIN num
    """,
)
def wasserstein_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth mover's) distance between the
    '{KS_TYPE_A}' and '{KS_TYPE_B}' event-value distributions: W1 =
    ∫|F1−F2| — the drift monitor that, unlike ``ks_value_drift``'s max
    deviation, weights HOW FAR mass moved, so a small shift of the whole
    distribution and a large shift of a sliver read differently (the
    metric distribution-shift papers report alongside KS).

    Determinism: on the empirical CDFs W1 is exactly
    Σ_gaps |f1·n2 − f2·n1|·Δv / (n1·n2): the summand is exact
    decimal(38,0)/HUGEINT per distinct-value gap (no floats until the
    single final division, rounded to 9). Empty sides return NULL under
    identical guards; a single distinct value gives W1 = 0 via the same
    COALESCE.

    Scale shape: the same mergeable (v, c1, c2) value histogram as the
    KS monitor (one map-side-combinable groupBy); the CDF prefix sums
    and the LEAD gap run over DISTINCT VALUE CENTS (the documented
    bounded-domain exception); the total is one scalar aggregate."""
    return w1_from_hist(ks_class_hist(load(spark, sf_dir, "events")))


def w1_from_hist(hist: DataFrame) -> DataFrame:
    """Finalize the 1-D Wasserstein distance from a (v, c1, c2) value
    histogram — the SAME mergeable state ``ks_class_hist`` emits, so a
    streaming drift monitor keeps one standing store and reads BOTH
    statistics off it per trigger (the summary/finalize split; twin in
    ``tests/test_streaming.py``)."""
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("v")
    dec = "decimal(38,0)"
    cum = hist.select(
        "v",
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
        F.lead("v").over(wl).alias("v_next"),
    )
    tot = hist.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    num = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("v_next").isNotNull())
        .agg(
            F.sum(
                F.abs(
                    F.col("f1").cast(dec) * F.col("n2")
                    - F.col("f2").cast(dec) * F.col("n1")
                )
                * (F.col("v_next") - F.col("v"))
            ).alias("w1_num")
        )
    )
    ok = (F.col("n1") > 0) & (F.col("n2") > 0)
    return tot.crossJoin(F.broadcast(num)).select(
        "n1",
        "n2",
        F.when(
            ok,
            F.round(
                F.coalesce(F.col("w1_num"), F.lit(0).cast(dec)).cast("double")
                / (F.col("n1").cast("double") * F.col("n2"))
                / 100,
                9,
            ),
        ).alias("w1_distance"),
    )


MCNEMAR_SPLIT = "1998-07-01"


@query(
    "mcnemar_paired_returns",
    oracle=f"""
    WITH flags AS (
      SELECT o.o_custkey AS cust,
             CASE WHEN o.o_orderdate < TIMESTAMP '{MCNEMAR_SPLIT}'
                  THEN 0 ELSE 1 END AS half,
             MAX(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY cust, half
    ), paired AS (
      SELECT cust,
             MAX(CASE WHEN half = 0 THEN ret END) AS r1,
             MAX(CASE WHEN half = 1 THEN ret END) AS r2
      FROM flags GROUP BY cust
      HAVING COUNT(*) = 2
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN r1 = 1 AND r2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN r1 = 0 AND r2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM paired
    )
    SELECT n_pairs, b AS b_discordant, c AS c_discordant,
           CASE WHEN b + c > 0 THEN
             ROUND(CAST((b - c) * (b - c) AS DOUBLE) / (b + c), 6)
           END AS mcnemar_chi2
    FROM m
    """,
)
def mcnemar_paired_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes: did each customer's
    "had a returned line" status change between the first and second
    half of the feed (split at {MCNEMAR_SPLIT})? The within-subject
    companion to ``ab_test_uplift``'s between-subject z — launch
    analyses misuse the unpaired test on before/after data exactly
    where this one applies. Only DISCORDANT pairs carry information:
    χ² = (b−c)²/(b+c) on 1 df.

    Determinism: the pair table is exact integer flags off one grouped
    scan (MAX of an indicator, no distinct); customers present in only
    one half are excluded by an exact COUNT(*) = 2 guard; the statistic
    is one integer ratio, rounded to 6; b + c = 0 returns NULL under
    identical guards.

    Scale shape: one map-side-combinable (customer, half) aggregate
    over the fact join, one (customer) pivot — both key-partitioned,
    no windows; the test runs on the 1-row tail."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    flags = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.when(F.col("o_orderdate") < MCNEMAR_SPLIT, 0)
            .otherwise(1)
            .alias("half"),
        )
        .agg(F.max((F.col("l_returnflag") == "R").cast("int")).alias("ret"))
    )
    paired = (
        flags.groupBy("cust")
        .agg(
            F.max(F.when(F.col("half") == 0, F.col("ret"))).alias("r1"),
            F.max(F.when(F.col("half") == 1, F.col("ret"))).alias("r2"),
            F.count("*").alias("n_halves"),
        )
        .filter(F.col("n_halves") == 2)
    )
    m = paired.agg(
        F.count("*").alias("n_pairs"),
        F.sum(((F.col("r1") == 1) & (F.col("r2") == 0)).cast("bigint")).alias("b"),
        F.sum(((F.col("r1") == 0) & (F.col("r2") == 1)).cast("bigint")).alias("c"),
    )
    bc = F.col("b") + F.col("c")
    diff = F.col("b") - F.col("c")
    return m.select(
        "n_pairs",
        F.col("b").alias("b_discordant"),
        F.col("c").alias("c_discordant"),
        F.when(
            bc > 0, F.round((diff * diff).cast("double") / bc, 6)
        ).alias("mcnemar_chi2"),
    )


@query(
    "cramers_v_association",
    oracle="""
    WITH obs0 AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             CAST(COUNT(*) AS BIGINT) AS observed
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY seg, pri
    ), rr AS (SELECT DISTINCT seg FROM obs0),
       cc AS (SELECT DISTINCT pri FROM obs0),
       grid AS (
      SELECT r.seg, c.pri, COALESCE(o.observed, 0) AS observed
      FROM rr r CROSS JOIN cc c
      LEFT JOIN obs0 o ON o.seg = r.seg AND o.pri = c.pri
    ), rt AS (SELECT seg, SUM(observed) AS r FROM grid GROUP BY seg),
       ct AS (SELECT pri, SUM(observed) AS c FROM grid GROUP BY pri),
       nn AS (SELECT SUM(observed) AS n FROM grid),
       cells AS (
      SELECT g.observed, r.r, c.c, nn.n,
             g.observed * nn.n - r.r * c.c AS d
      FROM grid g JOIN rt r ON r.seg = g.seg JOIN ct c ON c.pri = g.pri
      CROSS JOIN nn
    ), tot AS (
      SELECT CAST(SUM(CAST(ROUND(d::DOUBLE * d / n / r / c * 1e6) AS BIGINT))
                  AS BIGINT) AS chi2_i6
      FROM cells WHERE r > 0 AND c > 0
    ), dims AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rr) AS n_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cc) AS n_cols,
             (SELECT CAST(n AS BIGINT) FROM nn) AS n
    )
    SELECT d.n, d.n_rows, d.n_cols,
           t.chi2_i6::DOUBLE / 1e6 AS chi2,
           CASE WHEN d.n > 0 AND LEAST(d.n_rows, d.n_cols) > 1 THEN
             ROUND(sqrt(t.chi2_i6::DOUBLE / 1e6
                        / (d.n * (LEAST(d.n_rows, d.n_cols) - 1))), 6)
           END AS cramers_v
    FROM tot t CROSS JOIN dims d
    """,
)
def cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between customer market segment and order priority:
    the [0, 1]-normalized effect size of the chi-square association —
    ``chi_square_independence`` answers "is there any dependence", V
    answers "how strong", comparable across tables of different shape
    (V = √(χ²/(n·(min(R,S)−1)))). On this independent feed V ≈ 0 is the
    expected null read; the query's job is the normalization algebra.

    Determinism: the chi_square_independence contract — integer counts,
    int64-exact deviations d = obs·N − r·c, per-cell contributions
    pinned once to i6 and summed as INTEGERS; V is one pinned scalar
    chain over the integer total, rounded to 6. Degenerate tables
    (empty, or single-level on either margin) return NULL V under
    identical guards.

    Scale shape: one map-side-combinable groupBy over the broadcast-dim
    fact join collapses everything to ≤ R·S cells; margins, grid, and
    the statistic are arithmetic on that provably tiny aggregate."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    # checkpointed: THREE lineages consume the collapsed cell table (the
    # margins rr/cc and the grid) — without it the fact join replays per
    # consumer.
    obs0 = (
        orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count("*").alias("observed"))
        .localCheckpoint()
    )
    rr = obs0.select("seg").distinct()
    cc = obs0.select("pri").distinct()
    grid = (
        rr.crossJoin(F.broadcast(cc))
        .join(F.broadcast(obs0), ["seg", "pri"], "left")
        .select(
            "seg",
            "pri",
            F.coalesce(F.col("observed"), F.lit(0)).cast("bigint").alias("observed"),
        )
    )
    rt = grid.groupBy("seg").agg(F.sum("observed").alias("r"))
    ct = grid.groupBy("pri").agg(F.sum("observed").alias("c"))
    nn = grid.agg(F.sum("observed").alias("n"))
    d = F.col("observed") * F.col("n") - F.col("r") * F.col("c")
    tot = (
        grid.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "pri")
        .crossJoin(F.broadcast(nn))
        .filter((F.col("r") > 0) & (F.col("c") > 0))
        .agg(
            F.sum(
                F.round(
                    d.cast("double") * d / F.col("n") / F.col("r") / F.col("c")
                    * F.lit(1e6)
                ).cast("bigint")
            ).alias("chi2_i6")
        )
    )
    dims = (
        rr.agg(F.count("*").alias("n_rows"))
        .crossJoin(cc.agg(F.count("*").alias("n_cols")))
        .crossJoin(nn)
        .select(
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_cols").cast("bigint").alias("n_cols"),
            F.col("n").cast("bigint").alias("n"),
        )
    )
    mindim = F.least(F.col("n_rows"), F.col("n_cols"))
    chi2 = F.col("chi2_i6").cast("double") / F.lit(1e6)
    return tot.crossJoin(F.broadcast(dims)).select(
        "n",
        "n_rows",
        "n_cols",
        chi2.alias("chi2"),
        F.when(
            (F.col("n") > 0) & (mindim > 1),
            F.round(F.sqrt(chi2 / (F.col("n") * (mindim - 1))), 6),
        ).alias("cramers_v"),
    )


ZORDER_BITS = 4  # 4 bits per dimension -> 16x16 grid, 256 Morton cells


def _morton_terms(px: str, sx: str, intdiv: str) -> str:
    """The Morton (Z-order) interleave of two {ZORDER_BITS}-bit cell
    coordinates as pure integer arithmetic — ONE expression string shared
    verbatim by Spark SQL (`intdiv='div'`) and DuckDB (`intdiv='//'`), so
    both engines compute identical codes by construction."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({px}) {intdiv} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({sx}) {intdiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@query(
    "zorder_layout_cells",
    oracle=f"""
    WITH dom AS (
      SELECT MAX(l_partkey) + 1 AS pk_dom, MAX(l_suppkey) + 1 AS sk_dom
      FROM lineitem
    ), cells AS (
      SELECT l.l_partkey * {1 << ZORDER_BITS} // d.pk_dom AS px,
             l.l_suppkey * {1 << ZORDER_BITS} // d.sk_dom AS sx,
             l.l_partkey, l.l_suppkey
      FROM lineitem l CROSS JOIN dom d
    ), coded AS (
      SELECT CAST({_morton_terms('px', 'sx', '//')} AS BIGINT) AS zcell,
             px, sx, l_partkey, l_suppkey
      FROM cells
    ), agg AS (
      SELECT zcell, CAST(MAX(px) AS BIGINT) AS px, CAST(MAX(sx) AS BIGINT) AS sx,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MAX(l_partkey) - MIN(l_partkey) AS BIGINT) AS pk_span,
             CAST(MAX(l_suppkey) - MIN(l_suppkey) AS BIGINT) AS sk_span
      FROM coded GROUP BY zcell
    )
    SELECT zcell, px, sx, n_rows, pk_span, sk_span,
           CAST(abs(px - LAG(px) OVER (ORDER BY zcell))
                + abs(sx - LAG(sx) OVER (ORDER BY zcell)) AS BIGINT) AS step_dist
    FROM agg ORDER BY zcell
    """,
)
def zorder_layout_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over (l_partkey, l_suppkey): each key
    pair quantizes to a {ZORDER_BITS}-bit-per-dimension grid cell and
    interleaves to a Morton code — the multi-dimensional clustering key
    behind Delta/Iceberg Z-ORDER and the layout this engine would
    CLUSTER BY so that range predicates on EITHER key prune files. The
    output is the per-cell audit a layout advisor reads: row count,
    within-cell key spans (locality: each cell covers ~1/{1 << ZORDER_BITS}
    of each domain), and the grid step between CONSECUTIVE codes —
    Z-order's bounded walk (mostly 1) versus the row-major layout whose
    wraparound steps span the whole second dimension.

    Determinism: cell coordinates are exact integer floor divisions off
    broadcast domain maxima; the interleave is pure integer arithmetic
    from ONE expression string shared verbatim by both engines
    (``_morton_terms``); every output is an integer.

    Scale shape: the code is computed SCAN-SIDE (no shuffle) and the
    groupBy collapses everything to ≤ 4^{ZORDER_BITS} cells —
    map-side-combinable; the step audit is a window over those ≤
    {4 ** ZORDER_BITS} rows. At 100 TB the same expression is the
    repartitionByRange / CLUSTER BY key; this query is the advisor
    readout, not the rewrite."""
    li = load(spark, sf_dir, "lineitem")
    dom = li.agg(
        (F.max("l_partkey") + 1).alias("pk_dom"),
        (F.max("l_suppkey") + 1).alias("sk_dom"),
    )
    cells = li.crossJoin(F.broadcast(dom)).select(
        F.expr(f"l_partkey * {1 << ZORDER_BITS} div pk_dom").alias("px"),
        F.expr(f"l_suppkey * {1 << ZORDER_BITS} div sk_dom").alias("sx"),
        "l_partkey",
        "l_suppkey",
    )
    coded = cells.select(
        F.expr(_morton_terms("px", "sx", "div")).cast("bigint").alias("zcell"),
        "px",
        "sx",
        "l_partkey",
        "l_suppkey",
    )
    agg = coded.groupBy("zcell").agg(
        F.max("px").cast("bigint").alias("px"),
        F.max("sx").cast("bigint").alias("sx"),
        F.count("*").alias("n_rows"),
        (F.max("l_partkey") - F.min("l_partkey")).cast("bigint").alias("pk_span"),
        (F.max("l_suppkey") - F.min("l_suppkey")).cast("bigint").alias("sk_span"),
    )
    # <= 4^ZORDER_BITS rows: the documented bounded-domain window class
    wl = Window.orderBy("zcell")
    return agg.select(
        "zcell",
        "px",
        "sx",
        "n_rows",
        "pk_span",
        "sk_span",
        (
            F.abs(F.col("px") - F.lag("px").over(wl))
            + F.abs(F.col("sx") - F.lag("sx").over(wl))
        )
        .cast("bigint")
        .alias("step_dist"),
    ).orderBy("zcell")


# --- round 9: blocked-design rank tests -------------------------------------


@query(
    "friedman_priority_monthly",
    oracle="""
    WITH cells AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS m,
             o_orderpriority AS g,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS v
      FROM orders GROUP BY m, g
    ), months AS (
      SELECT DISTINCT m FROM cells
    ), prios AS (
      SELECT DISTINCT g FROM cells
    ), grid AS (
      SELECT mo.m, p.g, COALESCE(c.v, 0) AS v
      FROM months mo CROSS JOIN prios p
      LEFT JOIN cells c ON c.m = mo.m AND c.g = p.g
    ), r AS (
      SELECT a.m, a.g,
             CAST(SUM(CASE WHEN b.v < a.v THEN 2
                           WHEN b.v = a.v THEN 1 ELSE 0 END) + 1 AS BIGINT) AS r2,
             CAST(SUM(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) AS BIGINT) AS t
      FROM grid a JOIN grid b ON b.m = a.m
      GROUP BY a.m, a.g
    ), rj AS (
      SELECT g, CAST(SUM(r2) AS BIGINT) AS r2_g FROM r GROUP BY g
    ), ties AS (
      SELECT CAST(SUM(t * t - 1) AS BIGINT) AS tsum FROM r
    ), dims AS (
      SELECT CAST(COUNT(DISTINCT m) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT g) AS BIGINT) AS k
      FROM grid
    ), stat AS (
      SELECT d.n, d.k,
             (SELECT SUM(CAST(r2_g AS HUGEINT) * r2_g) FROM rj) AS sr2,
             t.tsum
      FROM dims d CROSS JOIN ties t
    )
    SELECT rj.g AS priority, s.n AS n_blocks,
           ROUND(CAST(rj.r2_g AS DOUBLE) / (2 * s.n), 6) AS mean_rank,
           CASE WHEN s.k >= 2 AND s.tsum < s.n * s.k * (s.k * s.k - 1)
           THEN ROUND(
             (3.0 * CAST(s.sr2 AS DOUBLE) / (s.n * s.k * (s.k + 1))
              - 3.0 * (s.n * (s.k + 1)))
             / (1.0 - CAST(s.tsum AS DOUBLE) / (s.n * s.k * (s.k * s.k - 1))), 6)
           END AS chi2_f,
           CAST(s.k - 1 AS BIGINT) AS dof
    FROM rj CROSS JOIN stat s
    ORDER BY priority
    """,
)
def friedman_priority_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: across months (the BLOCKS), do the five order
    priorities (the TREATMENTS) keep the same spend ordering? The
    blocked-design rank test — ``kruskal_wallis_priority_spend`` pools
    all orders and a strong month effect can drown the priority signal;
    Friedman ranks priorities WITHIN each month first, so every month
    contributes one permutation and seasonality cancels by design.
    Output: each priority's mean within-month rank, with the
    tie-corrected chi-squared and its degrees of freedom on every row.

    Grid convention: blocks are months with >= 1 order, treatments are
    the priorities observed anywhere, and a (month, priority) cell with
    no orders scores 0 cents — the complete-grid convention that keeps
    the design balanced (classical Friedman requires it) and is mirrored
    cell-for-cell by the oracle.

    Determinism: within-block midranks are the exact integers
    2*cnt_less + cnt_eq + 1 (DOUBLED midranks, the mann_whitney/kruskal
    contract) computed by a block-keyed grid self-join; the rank sums
    and tie term sum(t^2 - 1) (= sum over tie groups of t^3 - t) are
    exact integers, sum(R2_g^2) accumulates in decimal(38)/HUGEINT, and
    the statistic is ONE pinned double chain (3*SR2/(nk(k+1)) - 3n(k+1),
    tie-corrected) rounded to 6. All-tied designs return NULL via the
    identical guard in both engines.

    Scale shape: ONE fact aggregate collapses orders to the
    (month x priority) grid — calendar x value-domain sized (~420 cells
    at every SF), checkpointed because three lineages consume it
    (months, priorities, the grid join). The rank self-join, tie reduction, and
    statistic all run on that bounded grid; the only fact-scale work is
    the first groupBy."""
    orders = load(spark, sf_dir, "orders")
    m = (
        (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
    ).cast("bigint")
    cells = (
        orders.select(
            m.alias("m"),
            F.col("o_orderpriority").alias("g"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("m", "g")
        .agg(F.sum("vc").cast("bigint").alias("v"))
        .localCheckpoint()
    )
    months = cells.select("m").distinct()
    prios = cells.select("g").distinct()
    grid = (
        months.crossJoin(prios)
        .join(cells, ["m", "g"], "left")
        .select("m", "g", F.coalesce("v", F.lit(0).cast("bigint")).alias("v"))
    )
    b = grid.select(F.col("m").alias("bm"), F.col("v").alias("bv"))
    r = (
        grid.join(b, F.col("bm") == F.col("m"))
        .groupBy("m", "g")
        .agg(
            (
                F.sum(
                    F.when(F.col("bv") < F.col("v"), 2)
                    .when(F.col("bv") == F.col("v"), 1)
                    .otherwise(0)
                )
                + 1
            )
            .cast("bigint")
            .alias("r2"),
            F.sum((F.col("bv") == F.col("v")).cast("int"))
            .cast("bigint")
            .alias("t"),
        )
    )
    rj = r.groupBy("g").agg(F.sum("r2").cast("bigint").alias("r2_g"))
    ties = r.agg(
        F.sum(F.col("t") * F.col("t") - 1).cast("bigint").alias("tsum")
    )
    dims = grid.agg(
        F.countDistinct("m").cast("bigint").alias("n"),
        F.countDistinct("g").cast("bigint").alias("k"),
    )
    sr2 = rj.agg(
        F.sum(F.col("r2_g").cast("decimal(38,0)") * F.col("r2_g")).alias("sr2")
    )
    stat = dims.crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(sr2))
    nd, kd = F.col("n"), F.col("k")
    ok = (kd >= 2) & (F.col("tsum") < nd * kd * (kd * kd - 1))
    chi2 = (
        3.0 * F.col("sr2").cast("double") / (nd * kd * (kd + 1))
        - 3.0 * (nd * (kd + 1))
    ) / (1.0 - F.col("tsum").cast("double") / (nd * kd * (kd * kd - 1)))
    return (
        rj.crossJoin(F.broadcast(stat))
        .select(
            F.col("g").alias("priority"),
            F.col("n").alias("n_blocks"),
            F.round(F.col("r2_g").cast("double") / (2 * F.col("n")), 6).alias(
                "mean_rank"
            ),
            F.when(ok, F.round(chi2, 6)).alias("chi2_f"),
            (kd - 1).cast("bigint").alias("dof"),
        )
        .orderBy("priority")
    )


CQ_YEARS = (1995, 1996, 1997)  # the k related binary "treatments"


@query(
    "cochran_q_yearly_activity",
    oracle=f"""
    WITH years AS (
      SELECT unnest([{", ".join(str(y) for y in CQ_YEARS)}]) AS y
    ), yr AS (
      SELECT DISTINCT o_custkey AS ck, EXTRACT(year FROM o_orderdate) AS y
      FROM orders
      WHERE EXTRACT(year FROM o_orderdate) IN ({", ".join(str(y) for y in CQ_YEARS)})
    ), cj AS (
      SELECT years.y, CAST(COUNT(yr.ck) AS BIGINT) AS c
      FROM years LEFT JOIN yr ON yr.y = years.y GROUP BY years.y
    ), ri AS (
      SELECT ck, CAST(COUNT(*) AS BIGINT) AS r FROM yr GROUP BY ck
    ), tot AS (
      SELECT CAST({len(CQ_YEARS)} AS BIGINT) AS k,
             (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM cj) AS n_tot,
             (SELECT COALESCE(SUM(CAST(c AS HUGEINT) * c), 0) FROM cj) AS sc2,
             (SELECT CAST(COALESCE(SUM(r * r), 0) AS BIGINT) FROM ri) AS sr2
    )
    SELECT cj.y AS year, cj.c AS n_active,
           CASE WHEN t.k * t.n_tot - t.sr2 > 0
           THEN ROUND(
             CAST((t.k - 1) * (t.k * t.sc2 - CAST(t.n_tot AS HUGEINT) * t.n_tot)
                  AS DOUBLE)
             / (t.k * t.n_tot - t.sr2), 6)
           END AS q_stat,
           CAST(t.k - 1 AS BIGINT) AS dof
    FROM cj CROSS JOIN tot t
    ORDER BY year
    """,
)
def cochran_q_yearly_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q: did customer activity CHANGE across {CQ_YEARS}? The
    k-treatment generalization of ``mcnemar_paired_returns`` for
    matched BINARY outcomes — each customer is a subject, each year a
    related treatment, the outcome "placed >= 1 order that year".
    Rejecting says the active-customer proportion is not constant
    across the years (retention/churn shifted). Output: each year's
    active count with Q and its degrees of freedom on every row.

    Determinism: Q = (k-1)(k*sum(C_j^2) - N^2) / (k*N - sum(R_i^2)) is a
    ratio of EXACT integers (column totals C_j, grand total N, per-
    subject row totals R_i) — the column-total squares accumulate in
    decimal(38)/HUGEINT and the statistic is ONE double division,
    rounded to 6. Degenerate designs (every subject active in no or
    all years — denominator 0, includes the empty table) return NULL
    through the identical guard. Cross-engine cast bound: the integer
    numerator ~ k^2*C^2 passes 2^64 only past ~2e9 active customers
    per year (the kruskal HUGEINT->DOUBLE note).

    Scale shape: one DISTINCT (customer, year) collapse of the fact
    scan (map-side combinable), then a customer-keyed count for R_i and
    a year-keyed count for C_j — the k-row year spine is a literal;
    subject rows never pairwise-join (Q needs only sum(R_i^2), unlike
    the rank tests). Scalar assembly is broadcast. Size bound: the
    checkpointed frame is the distinct (customer, year) activity table —
    at most k*|customers| skinny rows (two ints; ~50 GB at 1e9
    customers, spilling gracefully under MEMORY_AND_DISK), the largest
    SUBJECT-scaled materialization in the module but far cheaper than
    the second full fact scan + distinct shuffle its two consumers
    would otherwise replay (exchange reuse does not fire here: the
    left-join consumer's subtree differs structurally)."""
    orders = load(spark, sf_dir, "orders")
    years = spark.createDataFrame([(y,) for y in CQ_YEARS], "y int")
    k = len(CQ_YEARS)
    yr = (
        orders.select(
            F.col("o_custkey").alias("ck"), F.year("o_orderdate").alias("y")
        )
        .filter(F.col("y").isin(*CQ_YEARS))
        .distinct()
        .localCheckpoint()
    )
    cj = (
        years.join(yr, "y", "left")
        .groupBy("y")
        .agg(F.count("ck").cast("bigint").alias("c"))
    )
    ri = yr.groupBy("ck").agg(F.count("*").cast("bigint").alias("r"))
    dec = "decimal(38,0)"
    tot = (
        cj.agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_tot"),
            F.coalesce(
                F.sum(F.col("c").cast(dec) * F.col("c")), F.lit(0)
            ).cast(dec).alias("sc2"),
        )
        .crossJoin(
            F.broadcast(
                ri.agg(
                    F.coalesce(F.sum(F.col("r") * F.col("r")), F.lit(0))
                    .cast("bigint")
                    .alias("sr2")
                )
            )
        )
        .withColumn("k", F.lit(k).cast("bigint"))
    )
    den = F.col("k") * F.col("n_tot") - F.col("sr2")
    num = (F.col("k") - 1) * (
        F.col("k") * F.col("sc2")
        - F.col("n_tot").cast(dec) * F.col("n_tot")
    )
    return (
        cj.crossJoin(F.broadcast(tot))
        .select(
            F.col("y").alias("year"),
            F.col("c").alias("n_active"),
            F.when(den > 0, F.round(num.cast("double") / den, 6)).alias(
                "q_stat"
            ),
            (F.col("k") - 1).cast("bigint").alias("dof"),
        )
        .orderBy("year")
    )


@query(
    "mann_kendall_revenue_trend",
    oracle="""
    WITH monthly AS (
      SELECT CAST((EXTRACT(year FROM o_orderdate) - 1992) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS m,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS rev_c
      FROM orders GROUP BY m
    ), s AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN b.rev_c > a.rev_c THEN 1
                                    WHEN b.rev_c < a.rev_c THEN -1
                                    ELSE 0 END), 0) AS BIGINT) AS s_stat
      FROM monthly a JOIN monthly b ON a.m < b.m
    ), ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM monthly GROUP BY rev_c)
    ), nn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM monthly
    ), v AS (
      SELECT nn.n, s.s_stat, ties.tie_term,
             nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term AS var_num
      FROM nn CROSS JOIN s CROSS JOIN ties
    )
    SELECT n AS n_months, s_stat,
           ROUND(CAST(var_num AS DOUBLE) / 18, 6) AS var_s,
           CASE WHEN var_num > 0 THEN ROUND(
             CASE WHEN s_stat > 0
                  THEN (s_stat - 1) / sqrt(CAST(var_num AS DOUBLE) / 18)
                  WHEN s_stat < 0
                  THEN (s_stat + 1) / sqrt(CAST(var_num AS DOUBLE) / 18)
                  ELSE 0.0 END, 6)
           END AS z_stat,
           CASE WHEN s_stat > 0 THEN 'increasing'
                WHEN s_stat < 0 THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM v
    """,
)
def mann_kendall_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on monthly order revenue: S
    counts concordant-minus-discordant month pairs, so it asks "does
    revenue keep moving one way?" without assuming linearity — the
    significance twin of ``theil_sen_trend``'s slope (same pairwise
    month shape; Theil-Sen says HOW steep, Mann-Kendall says WHETHER
    to believe a direction at all). Continuity-corrected normal
    approximation with the standard tie-corrected variance.

    Determinism: monthly revenues are exact cents; S and the variance
    numerator n(n-1)(2n+5) - sum(t(t-1)(2t+5)) are exact integers; Z is
    one pinned double chain (a single sqrt of the same IEEE quotient in
    both engines), rounded to 6. Degenerate series (n < 2, or every
    month tied on the same revenue - variance 0) return NULL Z through
    the identical guard.

    Scale shape: the fact table collapses to the MONTH domain (calendar-
    bounded: ~84 rows at every SF) in one map-side-combinable groupBy;
    the pairwise S join is month-domain x month-domain (the theil_sen
    precedent); everything after is scalar reduction assembled
    broadcast."""
    orders = load(spark, sf_dir, "orders")
    m = (
        (F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1
    ).cast("bigint")
    monthly = (
        orders.select(
            m.alias("m"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("vc"),
        )
        .groupBy("m")
        .agg(F.sum("vc").cast("bigint").alias("rev_c"))
        .localCheckpoint()
    )
    b = monthly.select(F.col("m").alias("bm"), F.col("rev_c").alias("brev"))
    s = (
        monthly.join(b, F.col("m") < F.col("bm"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("brev") > F.col("rev_c"), 1)
                    .when(F.col("brev") < F.col("rev_c"), -1)
                    .otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = (
        monthly.groupBy("rev_c")
        .agg(F.count("*").cast("bigint").alias("t"))
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    nn = monthly.agg(F.count("*").cast("bigint").alias("n"))
    v = (
        nn.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(ties))
        .withColumn(
            "var_num",
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tie_term"),
        )
    )
    sd = F.sqrt(F.col("var_num").cast("double") / 18)
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / sd)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sd)
        .otherwise(F.lit(0.0))
    )
    return v.select(
        F.col("n").alias("n_months"),
        "s_stat",
        F.round(F.col("var_num").cast("double") / 18, 6).alias("var_s"),
        F.when(F.col("var_num") > 0, F.round(z, 6)).alias("z_stat"),
        F.when(F.col("s_stat") > 0, F.lit("increasing"))
        .when(F.col("s_stat") < 0, F.lit("decreasing"))
        .otherwise(F.lit("none"))
        .alias("trend"),
    )


@query(
    "t_closeness_audit",
    oracle="""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
             CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS in_debt
      FROM customer
    ), grp AS (
      SELECT c_nationkey, c_mktsegment, bal_band,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(in_debt) AS BIGINT) AS d
      FROM qi GROUP BY c_nationkey, c_mktsegment, bal_band
    ), gtot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
             CAST(COALESCE(SUM(in_debt), 0) AS BIGINT) AS d_tot
      FROM qi
    ), scored AS (
      SELECT g.k,
             ABS(CAST(g.d AS HUGEINT) * gl.n_tot
                 - CAST(gl.d_tot AS HUGEINT) * g.k) AS t_num,
             CAST(g.k AS HUGEINT) * gl.n_tot AS t_den
      FROM grp g CROSS JOIN gtot gl
    ), mx AS (
      SELECT MAX(CAST(t_num AS DOUBLE) / CAST(t_den AS DOUBLE)) AS max_t
      FROM scored
    )
    SELECT CAST(10 * t_num // t_den AS BIGINT) AS t_band,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_customers,
           ROUND((SELECT max_t FROM mx), 6) AS max_t
    FROM scored
    GROUP BY t_band
    ORDER BY t_band
    """,
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-release audit #3 (Li et al. 2007 t-closeness), completing
    the ``k_anonymity_audit`` pair: k-anonymity asks "is the group big
    enough", l-diversity "is the sensitive value varied at all" — but a
    group can pass both and still leak (99% in-debt vs a 10% global
    rate tells an attacker plenty). t-closeness bounds the DISTANCE
    between each QI group's sensitive distribution and the global one;
    for the binary in-debt flag the earth-mover distance reduces to
    |p_group - p_global|. Output: a histogram of groups by t decile
    band (band 10 = the exact-1 worst case), with the corpus-wide max t
    on every row — release gates check max_t <= t.

    Determinism: with t = |d_g*N - D*k_g| / (k_g*N), the numerator and
    denominator are EXACT integers (decimal(38)/HUGEINT: the cross
    product passes int64 at ~3e9 customers), the decile band is one
    integer floor-divide, and the only doubles are the per-group ratio
    under MAX (identical single division both engines) and its final
    ROUND.

    Scale shape: the same single fact scan as k_anonymity_audit,
    collapsed to the bounded QI-group table (|nations| x |segments| x
    |bands|); the global rate broadcasts; the band histogram is a tiny
    second aggregate."""
    cust = load(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    qi = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        (F.col("c_acctbal") < 0).cast("bigint").alias("in_debt"),
    )
    grp = qi.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("in_debt").cast("bigint").alias("d"),
    )
    glob = qi.agg(
        F.count("*").cast("bigint").alias("n_tot"),
        F.coalesce(F.sum("in_debt"), F.lit(0)).cast("bigint").alias("d_tot"),
    )
    scored = grp.crossJoin(F.broadcast(glob)).select(
        "k",
        F.abs(
            F.col("d").cast(dec) * F.col("n_tot")
            - F.col("d_tot").cast(dec) * F.col("k")
        ).alias("t_num"),
        (F.col("k").cast(dec) * F.col("n_tot")).alias("t_den"),
    ).localCheckpoint()
    mx = scored.agg(
        F.max(F.col("t_num").cast("double") / F.col("t_den").cast("double")).alias(
            "max_t"
        )
    )
    return (
        scored.groupBy(
            int_div_exact(F.col("t_num") * 10, F.col("t_den"))
            .cast("bigint")
            .alias("t_band")
        )
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("k").cast("bigint").alias("n_customers"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "t_band",
            "n_groups",
            "n_customers",
            F.round("max_t", 6).alias("max_t"),
        )
        .orderBy("t_band")
    )
