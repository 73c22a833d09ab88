"""Window/analytic functions and multi-dimensional aggregates
(SURVEY §2.G: row_number/rank/lag/lead/running sums, rollup, cube,
grouping sets).

Window determinism rule: every ORDER BY inside a window ends with a unique
key (orderkey / custkey) so ranks and running sums are reproducible across
engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions.exact import exact_sum, sql_exact_sum
from bigdata_2025_1_spark.functions.ranks import rank_after_limit, with_global_rank
from bigdata_2025_1_spark.io import load
from bigdata_2025_1_spark.registry import query


@query(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ROW_NUMBER — the scale-correct alternative to a
    global sort: one shuffle on the partition key, per-partition sort.
    Spark 4 additionally rewrites rn<=k into a WindowGroupLimit push-down."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


@query(
    "customer_running_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1e2
             AS running_spend,
           LAG(o_orderkey) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS prev_orderkey,
           LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS next_orderkey
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + lag/lead over each customer's order history. The
    running sum accumulates scaled int64 (order-fixed by the window ORDER
    BY, exact) then unscales — bit-stable across engines."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(cents).over(w.rowsBetween(Window.unboundedPreceding, 0)) / 100).alias(
            "running_spend"
        ),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "part_price_rank_in_brand",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice,
           RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS price_rank,
           DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS dense_price_rank,
           CAST(NTILE(4) OVER (PARTITION BY p_brand
                               ORDER BY p_retailprice DESC, p_partkey) AS INT) AS price_quartile
    FROM part
    ORDER BY p_brand, price_rank, p_partkey
    """,
)
def part_price_rank_in_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK / DENSE_RANK (tie-tolerant: equal prices share a rank, so no
    tiebreaker needed for determinism) + NTILE quartiles per brand."""
    p = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    wt = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return p.select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("dense_price_rank"),
        F.ntile(4).over(wt).alias("price_quartile"),
    ).orderBy("p_brand", "price_rank", "p_partkey")


@query(
    "rollup_nation_segment",
    oracle=f"""
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           COUNT(*) AS n_customers,
           {sql_exact_sum('c.c_acctbal', 2)} AS total_balance
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
    ORDER BY nation NULLS FIRST, segment NULLS FIRST
    """,
)
def rollup_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(nation, segment): detail + per-nation subtotal + grand total
    in one pass (Catalyst expands to a single Expand+hash agg — not N
    separate scans).

    Known engine divergence on EMPTY input only: SQL-standard engines
    (DuckDB) emit the grand-total row (NULLs + zero counts) for an empty
    table; Spark emits zero rows (tests/test_empty_tables.py pins this)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"), "c_acctbal")
        .rollup("nation", "segment")
        .agg(
            F.count("*").alias("n_customers"),
            exact_sum(F.col("c_acctbal"), 2).alias("total_balance"),
        )
        .orderBy(F.asc_nulls_first("nation"), F.asc_nulls_first("segment"))
    )


@query(
    "cube_flag_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           {sql_exact_sum('l_extendedprice', 2)} AS total_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(returnflag, linestatus): all 2^2 grouping combinations.
    Empty-input divergence as rollup_nation_segment."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
            exact_sum(F.col("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy(
            F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus")
        )
    )


@query(
    "grouping_sets_priority_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           GROUPING(o_orderpriority) AS g_priority,
           GROUPING(o_orderstatus) AS g_status,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    ORDER BY g_priority, g_status, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
)
def grouping_sets_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with GROUPING() disambiguation flags (SQL
    entry point — parity with the reference's spark.sql path,
    spark/visualize.py:27). Empty-input divergence as
    rollup_nation_segment."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(GROUPING(o_orderpriority) AS TINYINT) AS g_priority,
               CAST(GROUPING(o_orderstatus) AS TINYINT) AS g_status,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY g_priority, g_status, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
        """
    )


@query(
    "rolling_30d_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT))
             OVER (PARTITION BY o_custkey
                   ORDER BY (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) / 1e2
             AS revenue_30d
    FROM orders
    WHERE o_custkey < 100
    ORDER BY o_custkey, o_orderkey
    """,
)
def rolling_30d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per customer, revenue over the trailing 30
    days (value-based frame over epoch seconds — rows/range distinction
    matters when orders cluster). Exact cents inside the frame sum."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    # day ordinals, not unix_timestamp: epoch seconds of an NTZ timestamp
    # depend on the session timezone (DST would shift frame boundaries);
    # date ordinals are timezone-free in both engines
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_date(F.col("o_orderdate").cast("date")))
        .rangeBetween(-30, 0)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(cents).over(w) / 100).alias("revenue_30d"),
    ).orderBy("o_custkey", "o_orderkey")


_ABOVE_AVG_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice
FROM orders o
WHERE o_totalprice >
      (SELECT 2 * (SUM(CAST(ROUND(o2.o_totalprice * 1e2) AS BIGINT))
                   / (1e2 * COUNT(*)))
       FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
ORDER BY o_custkey, o_orderkey
"""


@query("scalar_subquery_big_orders", oracle=_ABOVE_AVG_SQL)
def scalar_subquery_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders worth more than 2x their own
    customer's average — written as the subquery a SQL user writes, NOT
    hand-decorrelated. Catalyst's decorrelation rewrites it to one
    aggregate + one equi-join (no per-row subquery execution ever exists
    at runtime — plan-pinned in tests), which is why the same text is
    safe at 100 TB. The IDENTICAL SQL string runs on DuckDB as the
    oracle; the average is an exact int-cents sum over count so the
    threshold comparison cannot drift between engines."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_ABOVE_AVG_SQL)


_RECURSIVE_MONTHS_SQL = """
WITH RECURSIVE bounds AS (
  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS m0,
         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS m1
  FROM orders
), months(m, m1) AS (
  SELECT m0, m1 FROM bounds
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE), m1 FROM months WHERE m < m1
), cnt AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mm, COUNT(*) AS n
  FROM orders GROUP BY 1
)
SELECT m AS month, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_orders
FROM months LEFT JOIN cnt c ON c.mm = m
ORDER BY month
"""


@query("recursive_cte_month_spine", oracle=_RECURSIVE_MONTHS_SQL)
def recursive_cte_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (new in Spark 4): a month calendar spine generated
    by iteration, zero-filling order counts across the full date range —
    the IDENTICAL SQL text runs on DuckDB as the oracle (RECURSIVE leads
    the CTE list, which DuckDB requires; date_trunc is cast to DATE on
    both sides because the engines disagree on its return type).

    Scale: the recursion materializes ~tens of rows per step on the
    driver-side loop Spark runs for recursive CTEs — calendar-sized, not
    data-sized; the data-sized work stays in the one count aggregate
    (events_gap_filled_hourly shows the F.sequence alternative). The
    upper bound ``m1`` rides every spine row, so the recursive step
    reads only the previous step's rows: a step that joined ``bounds``
    would re-run the ``orders`` aggregate on every iteration."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_RECURSIVE_MONTHS_SQL)


@query(
    "customer_rfm_segments",
    oracle="""
    WITH maxd AS (
      SELECT MAX(o_orderdate) AS d1 FROM orders
    ), base AS (
      SELECT o_custkey AS custkey,
             date_diff('day', MAX(o_orderdate), (SELECT d1 FROM maxd)) AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days,
             CAST(frequency AS BIGINT) AS frequency,
             CAST(monetary_cents AS BIGINT) AS monetary_cents,
             NTILE(4) OVER (ORDER BY recency_days, custkey) AS r_seg,
             NTILE(4) OVER (ORDER BY frequency DESC, custkey) AS f_seg,
             NTILE(4) OVER (ORDER BY monetary_cents DESC, custkey) AS m_seg
      FROM base
    )
    SELECT custkey, recency_days, frequency, monetary_cents,
           CAST(r_seg AS INT) AS r_seg, CAST(f_seg AS INT) AS f_seg,
           CAST(m_seg AS INT) AS m_seg,
           CAST(r_seg * 100 + f_seg * 10 + m_seg AS INT) AS rfm
    FROM scored
    ORDER BY custkey
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (the classic CRM cut): per customer, recency =
    days since last order (vs the corpus max date), frequency = order
    count, monetary = exact cent total; each dimension quartiled with
    NTILE(4) (1 = best) and composed into the 3-digit RFM code.

    Determinism: all three metrics are integers and every NTILE orders
    with a custkey tiebreak — a total order, so both engines cut the
    quartiles identically.

    Scale shape: one map-side-combinable groupBy(custkey) does ALL the
    data-sized work; each NTILE is then computed from a DISTRIBUTED
    global rank (``with_global_rank`` — no single-partition window even
    at fact-scale customer counts) plus the closed-form NTILE bucket
    arithmetic (first n%4 buckets take n/4+1 rows). Value-domain
    bucketing is NOT a valid substitute here: NTILE splits ties
    positionally, so a dominant tied value (e.g. frequency=1) must
    straddle buckets — exactly what the positional rank preserves."""
    orders = load(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("d1"))
    base = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "monetary_cents"
            ),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "custkey",
            F.datediff(F.col("d1"), F.col("last_order")).cast("bigint").alias(
                "recency_days"
            ),
            "frequency",
            "monetary_cents",
        )
    )
    # one distributed global rank per dimension (desc dims rank on the
    # exact integer negation), joined back on custkey
    r_rank = with_global_rank(
        base.select("custkey", "recency_days"), ["recency_days", "custkey"], "ri"
    ).select("custkey", "ri")
    f_rank = with_global_rank(
        base.select("custkey", (-F.col("frequency")).alias("_negf")),
        ["_negf", "custkey"],
        "fi",
    ).select("custkey", "fi")
    m_rank = with_global_rank(
        base.select("custkey", (-F.col("monetary_cents")).alias("_negm")),
        ["_negm", "custkey"],
        "mi",
    ).select("custkey", "mi")
    n1 = base.agg(F.count("*").alias("n"))

    def ntile4(i: str) -> F.Column:
        # closed-form NTILE(4) from a 1-based global rank: q = n div 4,
        # r = n mod 4; the first r buckets hold q+1 rows, the rest q.
        # greatest(q, 1) guards the (unreachable when q = 0) else branch
        # against ANSI division-by-zero.
        return F.expr(
            f"CASE WHEN {i} <= (n div 4 + 1) * (n % 4) "
            f"THEN ({i} + n div 4) div (n div 4 + 1) "
            f"ELSE n % 4 + ({i} - (n div 4 + 1) * (n % 4) + greatest(n div 4, 1) - 1) "
            f"div greatest(n div 4, 1) END"
        )

    return (
        base.join(r_rank, "custkey")
        .join(f_rank, "custkey")
        .join(m_rank, "custkey")
        .crossJoin(F.broadcast(n1))
        .select(
            "custkey",
            "recency_days",
            "frequency",
            "monetary_cents",
            ntile4("ri").cast("int").alias("r_seg"),
            ntile4("fi").cast("int").alias("f_seg"),
            ntile4("mi").cast("int").alias("m_seg"),
        )
        .withColumn(
            "rfm",
            (F.col("r_seg") * 100 + F.col("f_seg") * 10 + F.col("m_seg")).cast("int"),
        )
        .orderBy("custkey")
    )


@query(
    "parts_abc_pareto",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS partkey,
             SUM(CAST(ROUND(l_extendedprice * 1e2) AS BIGINT)) AS cents
      FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT SUM(cents) AS total FROM rev
    ), ranked AS (
      SELECT partkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_cents
      FROM rev
    ), classed AS (
      SELECT partkey, cents, cum_cents,
             CASE WHEN cum_cents * 100 <= 80 * (SELECT total FROM tot) THEN 'A'
                  WHEN cum_cents * 100 <= 95 * (SELECT total FROM tot) THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked
    )
    SELECT abc,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           CAST(MIN(cents) AS BIGINT) AS min_part_cents,
           CAST(MAX(cents) AS BIGINT) AS max_part_cents
    FROM classed GROUP BY abc
    ORDER BY abc
    """,
)
def parts_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: parts sorted by
    revenue descending, class A = the prefix covering ≤80% of total
    revenue, B to 95%, C the tail — the inventory-management 80/20 cut.

    Determinism: the cumulative sum runs over a total (cents DESC,
    partkey) order and the class test is an integer cross-multiplication
    (``cum·100 ≤ 80·total``) — no float share is ever computed.

    Scale shape: data-sized work is one map-side-combinable
    groupBy(partkey); the running sum over the PART-sized aggregate is
    DISTRIBUTED (``with_global_rank`` prefix-sum form: range-repartition
    on the (-cents, partkey) order + partition-local cumsum + a
    partition-count-sized offset table — no single-partition window even
    at extreme part cardinality); output is three rows."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("cents")
    )
    tot = rev.agg(F.sum("cents").alias("total"))
    # (-cents, partkey) ascending == (cents DESC, partkey) — integer
    # negation keeps the prefix order exact
    ranked = with_global_rank(
        rev.withColumn("_negc", -F.col("cents")),
        ["_negc", "partkey"],
        "_rk",
        prefix_of="cents",
        prefix_col="cum_cents",
    ).drop("_negc", "_rk")
    classed = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "partkey",
            "cents",
            F.when(F.col("cum_cents") * 100 <= 80 * F.col("total"), F.lit("A"))
            .when(F.col("cum_cents") * 100 <= 95 * F.col("total"), F.lit("B"))
            .otherwise(F.lit("C"))
            .alias("abc"),
        )
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("cents").alias("revenue_cents"),
            F.min("cents").alias("min_part_cents"),
            F.max("cents").alias("max_part_cents"),
        )
        .orderBy("abc")
    )


@query(
    "monthly_seasonality_index",
    oracle="""
    WITH m AS (
      SELECT EXTRACT(MONTH FROM o_orderdate) AS month,
             SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS cents,
             COUNT(*) AS n_orders
      FROM orders GROUP BY month
    ), tot AS (
      SELECT SUM(cents) AS total, COUNT(*) AS n_months FROM m
    )
    SELECT CAST(m.month AS INT) AS month,
           CAST(m.n_orders AS BIGINT) AS n_orders,
           CAST(m.cents AS BIGINT) AS revenue_cents,
           CAST(m.cents AS BIGINT)::DOUBLE * t.n_months / t.total AS seasonality_index
    FROM m CROSS JOIN tot t
    ORDER BY month
    """,
)
def monthly_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month seasonality index: each month-of-year's revenue
    relative to the all-months mean (index 1.0 = average month) — the
    multiplicative seasonal factor a demand forecaster divides out
    before trend fitting (``seasonal_hourly_residuals`` is the
    subtractive hourly cousin).

    Determinism: integer cent sums; the index is one fixed double chain
    (·n_months, ÷total) on exact ints, emitted unrounded.

    Scale shape: a 12-group map-side-combinable aggregate plus a 1-row
    broadcast — nothing else."""
    orders = load(spark, sf_dir, "orders")
    m = orders.groupBy(F.month("o_orderdate").alias("month")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
        F.count("*").alias("n_orders"),
    )
    tot = m.agg(F.sum("cents").alias("total"), F.count("*").alias("n_months"))
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            F.col("month").cast("int").alias("month"),
            "n_orders",
            F.col("cents").alias("revenue_cents"),
            (F.col("cents").cast("double") * F.col("n_months") / F.col("total")).alias(
                "seasonality_index"
            ),
        )
        .orderBy("month")
    )


@query(
    "greedy_stock_allocation",
    oracle="""
    WITH li AS (
      SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
             CAST(ROUND(l_quantity) AS BIGINT) AS qty
      FROM lineitem
    ), cap AS (
      SELECT l_partkey, CAST(SUM(qty) // 2 AS BIGINT) AS capacity,
             CAST(SUM(qty) AS BIGINT) AS demand
      FROM li GROUP BY l_partkey
    ), runs AS (
      SELECT l_partkey, qty,
             COALESCE(SUM(qty) OVER (
               PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM li
    ), alloc AS (
      SELECT r.l_partkey, r.qty,
             LEAST(r.qty, GREATEST(c.capacity - r.prior, 0)) AS allocated
      FROM runs r JOIN cap c USING (l_partkey)
    )
    SELECT a.l_partkey AS partkey, c.capacity, c.demand,
           CAST(SUM(CASE WHEN a.allocated = a.qty THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
           CAST(SUM(CASE WHEN a.allocated > 0 AND a.allocated < a.qty THEN 1 ELSE 0 END) AS BIGINT) AS n_partial,
           CAST(SUM(CASE WHEN a.allocated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(SUM(a.allocated) AS BIGINT) AS qty_allocated
    FROM alloc a JOIN cap c USING (l_partkey)
    GROUP BY partkey, c.capacity, c.demand
    ORDER BY partkey
    """,
)
def greedy_stock_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy stock allocation (the warehouse waterfall): each part's
    order lines, in ship-date arrival order, draw from a finite capacity
    (here half the part's total demand — a deterministic stand-in for an
    inventory feed) until it runs dry; a line gets
    min(qty, max(capacity - prior_demand, 0)), so the tail splits into
    exactly one partial fill and a fully-starved remainder. Per part:
    capacity, demand, full/partial/zero line counts, allocated quantity.

    Determinism: quantities round to int64 once; the running demand
    orders by (shipdate, orderkey, linenumber) — a unique total order —
    and allocation is integer min/max arithmetic.

    Scale shape: the window partitions by PART (fan-in bounded by
    lines-per-part, ~30 at any TPC-H scale — never a global window);
    capacity is one map-side-combinable groupBy joined back on the
    part key; the output is part-cardinality."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.round(F.col("l_quantity")).cast("bigint").alias("qty"),
    )
    return allocate_greedy(li)


def allocate_greedy(li: DataFrame) -> DataFrame:
    """The allocation core of ``greedy_stock_allocation`` over a
    ``(l_partkey, l_orderkey, l_linenumber, l_shipdate, qty)`` frame —
    module-level so the waterfall algebra is directly property-testable
    against a scalar Python loop (``tests/test_r6_property.py``)."""
    cap = li.groupBy("l_partkey").agg(
        F.expr("sum(qty) div 2").alias("capacity"),
        F.sum("qty").alias("demand"),
    )
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runs = li.select(
        "l_partkey", "qty", F.coalesce(F.sum("qty").over(w), F.lit(0)).alias("prior")
    )
    alloc = runs.join(cap, "l_partkey").select(
        "l_partkey",
        "capacity",
        "demand",
        "qty",
        F.least(
            F.col("qty"), F.greatest(F.col("capacity") - F.col("prior"), F.lit(0))
        ).alias("allocated"),
    )
    return (
        alloc.groupBy(
            F.col("l_partkey").alias("partkey"), F.col("capacity"), F.col("demand")
        )
        .agg(
            F.sum((F.col("allocated") == F.col("qty")).cast("bigint")).alias("n_full"),
            F.sum(
                (
                    (F.col("allocated") > 0) & (F.col("allocated") < F.col("qty"))
                ).cast("bigint")
            ).alias("n_partial"),
            F.sum((F.col("allocated") == 0).cast("bigint")).alias("n_zero"),
            F.sum("allocated").alias("qty_allocated"),
        )
        .orderBy("partkey")
    )


@query(
    "abc_xyz_matrix",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS partkey,
             SUM(CAST(ROUND(l_extendedprice * 1e2) AS BIGINT)) AS cents
      FROM lineitem GROUP BY partkey
    ), tot AS (
      SELECT SUM(cents) AS total FROM rev
    ), ranked AS (
      SELECT partkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_cents
      FROM rev
    ), abc AS (
      SELECT partkey,
             CASE WHEN cum_cents * 100 <= 80 * (SELECT total FROM tot) THEN 'A'
                  WHEN cum_cents * 100 <= 95 * (SELECT total FROM tot) THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked
    ), horizon AS (
      SELECT CAST(COUNT(DISTINCT date_trunc('month', l_shipdate)) AS BIGINT) AS n
      FROM lineitem
    ), pq AS (
      SELECT l_partkey AS partkey, date_trunc('month', l_shipdate) AS m,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY partkey, m
    ), mom AS (
      SELECT partkey, CAST(SUM(q) AS BIGINT) AS s,
             CAST(SUM(q * q) AS BIGINT) AS sq
      FROM pq GROUP BY partkey
    ), xyz AS (
      SELECT partkey, s,
             CASE WHEN 4 * (h.n * sq - s * s) <= s * s THEN 'X'
                  WHEN h.n * sq - s * s <= s * s THEN 'Y'
                  ELSE 'Z' END AS xyz
      FROM mom CROSS JOIN horizon h
    )
    SELECT a.abc, x.xyz,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(x.s) AS BIGINT) AS qty_total
    FROM abc a JOIN xyz x ON x.partkey = a.partkey
    GROUP BY a.abc, x.xyz
    ORDER BY a.abc, x.xyz
    """,
)
def abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ABC-XYZ inventory planning matrix: revenue importance
    (``parts_abc_pareto``'s 80/95 Pareto cut, same integer
    cross-multiplication) crossed with demand VOLATILITY — X/Y/Z by the
    coefficient of variation of monthly demand over the full month
    horizon (zero-demand months included implicitly: they add nothing
    to either moment sum while the horizon count n covers them).
    AX items are forecastable cash cows; CZ items are the long tail
    that should be make-to-order.

    Determinism: CV classes compare INTEGERS — CV^2 = (n*Sq2 - S^2)/S^2
    against 1/4 and 1 by cross-multiplication, so no sqrt, no division,
    no float anywhere; the ABC prefix runs over the exact (cents DESC,
    partkey) order.

    Scale shape: two map-side-combinable groupBys collapse the fact
    table (per-part revenue; per-part-month demand then per-part
    moments); the ABC running sum is the distributed prefix-sum
    primitive; the matrix join is part-keyed; output is <= 9 rows.
    Overflow: n*Sq2 <= 84 months * (5e5 qty)^2-scale sums ~ 2e15 —
    int64-safe at 100 TB."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("cents")
    )
    tot = rev.agg(F.sum("cents").alias("total"))
    ranked = with_global_rank(
        rev.withColumn("_negc", -F.col("cents")),
        ["_negc", "partkey"],
        "_rk",
        prefix_of="cents",
        prefix_col="cum_cents",
    ).drop("_negc", "_rk")
    abc = ranked.crossJoin(F.broadcast(tot)).select(
        "partkey",
        F.when(F.col("cum_cents") * 100 <= 80 * F.col("total"), F.lit("A"))
        .when(F.col("cum_cents") * 100 <= 95 * F.col("total"), F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc"),
    )
    horizon = li.agg(
        F.count_distinct(F.date_trunc("month", F.col("l_shipdate"))).alias("n")
    )
    pq = li.groupBy(
        F.col("l_partkey").alias("partkey"),
        F.date_trunc("month", F.col("l_shipdate")).alias("m"),
    ).agg(F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("q"))
    mom = pq.groupBy("partkey").agg(
        F.sum("q").alias("s"), F.sum(F.col("q") * F.col("q")).alias("sq")
    )
    disp = F.col("n") * F.col("sq") - F.col("s") * F.col("s")
    xyz = mom.crossJoin(F.broadcast(horizon)).select(
        "partkey",
        "s",
        F.when(4 * disp <= F.col("s") * F.col("s"), F.lit("X"))
        .when(disp <= F.col("s") * F.col("s"), F.lit("Y"))
        .otherwise(F.lit("Z"))
        .alias("xyz"),
    )
    return (
        abc.join(xyz, "partkey")
        .groupBy("abc", "xyz")
        .agg(F.count("*").alias("n_parts"), F.sum("s").alias("qty_total"))
        .orderBy("abc", "xyz")
    )


DECAY_CAP_MONTHS = 119
DECAY_TOP_K = 20


def _decay_weights() -> list[tuple[int, int]]:
    """Integer geometric decay table w(0)=1e6, w(a+1) = w(a)*9 // 10 —
    a pure int64 recurrence, so both engines regenerate IDENTICAL
    weights (libm pow() is implementation-specific; this is not)."""
    out, w = [], 10**6
    for age in range(DECAY_CAP_MONTHS + 1):
        out.append((age, w))
        w = w * 9 // 10
    return out


@query(
    "decayed_part_demand",
    oracle=f"""
    WITH RECURSIVE wts(age, w) AS (
      SELECT 0, CAST(1000000 AS BIGINT)
      UNION ALL
      SELECT age + 1, w * 9 // 10 FROM wts WHERE age < {DECAY_CAP_MONTHS}
    ), mi AS (
      SELECT l_partkey AS partkey,
             CAST((EXTRACT(year FROM l_shipdate) - 1992) * 12
                  + EXTRACT(month FROM l_shipdate) - 1 AS BIGINT) AS m,
             CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY partkey, m
    ), ref AS (
      SELECT MAX(m) AS mx FROM mi
    ), aged AS (
      SELECT partkey, q,
             LEAST(ref.mx - m, {DECAY_CAP_MONTHS}) AS age
      FROM mi CROSS JOIN ref
    ), scored AS (
      SELECT a.partkey,
             CAST(SUM(a.q * w.w) AS BIGINT) AS decayed_i6,
             CAST(SUM(a.q) AS BIGINT) AS raw_qty
      FROM aged a JOIN wts w ON w.age = a.age
      GROUP BY a.partkey
    )
    SELECT partkey, decayed_i6, raw_qty, CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY decayed_i6 DESC, partkey) AS rank
          FROM scored)
    WHERE rank <= {DECAY_TOP_K}
    ORDER BY rank
    """,
)
def decayed_part_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted demand ranking (the feature-store popularity
    signal): each part's monthly quantities are weighted by a geometric
    decay in months-ago (half-life ~6.6 months), so currently-moving
    parts outrank has-beens with identical lifetime totals.
    Top-{DECAY_TOP_K} by decayed demand, raw totals alongside.

    Determinism: the decay table is an INTEGER recurrence
    (w*9 // 10 per month, capped at {DECAY_CAP_MONTHS}) regenerated
    identically in both engines — no libm pow(), whose last bit is
    implementation-specific; quantities and weighted sums are exact
    int64 (q*w <= 5e11/month-cell at 100 TB — safe).

    Scale shape: one map-side-combinable groupBy to part-month cells;
    the weight table is {DECAY_CAP_MONTHS}+1 rows broadcast; the
    reference month is a 1-row broadcast; the weighted reduce is
    part-keyed; top-k is TakeOrdered."""
    li = load(spark, sf_dir, "lineitem")
    mi = li.groupBy(
        F.col("l_partkey").alias("partkey"),
        (
            (F.year("l_shipdate") - F.lit(1992)) * 12 + F.month("l_shipdate") - 1
        )
        .cast("bigint")
        .alias("m"),
    ).agg(F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("q"))
    ref = mi.agg(F.max("m").alias("mx"))
    wts = spark.createDataFrame(_decay_weights(), "age bigint, w bigint")
    aged = mi.crossJoin(F.broadcast(ref)).select(
        "partkey",
        "q",
        F.least(F.col("mx") - F.col("m"), F.lit(DECAY_CAP_MONTHS)).alias("age"),
    )
    scored = (
        aged.join(F.broadcast(wts), "age")
        .groupBy("partkey")
        .agg(
            F.sum(F.col("q") * F.col("w")).alias("decayed_i6"),
            F.sum("q").alias("raw_qty"),
        )
    )
    return (
        rank_after_limit(
            scored, [F.desc("decayed_i6"), F.col("partkey")], DECAY_TOP_K
        )
        .select("partkey", "decayed_i6", "raw_qty", "rank")
        .orderBy("rank")
    )
