"""Relational core over the TPC-H-ish fixtures (SURVEY §2.G: joins incl.
broadcast/semi/anti/outer/theta, set ops, top-k, distinct, date bucketing).

Scale posture baked into each query:
- dimension joins (region/nation/supplier/part, and customer where it is
  the small side) are explicitly ``F.broadcast`` — no shuffle of the fact
  table for them at any scale;
- aggregates are single-pass hash aggs with map-side partials;
- top-k is sort+limit (TakeOrdered — no full sort materialization);
- the only full shuffles left are the fact-fact joins on their keys, which
  is the correct 100 TB plan (AQE handles skew/coalescing at runtime).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_2025_1_spark.functions.exact import (
    exact_avg,
    exact_sum,
    int_avg,
    sql_exact_avg,
    sql_exact_sum,
    sql_int_avg,
    within_tol,
)
from bigdata_2025_1_spark.functions import text as T
from bigdata_2025_1_spark.io import load
from bigdata_2025_1_spark.functions.ranks import rank_after_limit, with_global_rank
from bigdata_2025_1_spark.registry import query


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           {sql_exact_sum('l_extendedprice', 2)} AS sum_base_price,
           {sql_exact_sum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
           {sql_exact_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 4)} AS sum_charge,
           {sql_int_avg('CAST(l_quantity AS BIGINT)')} AS avg_qty,
           {sql_exact_avg('l_extendedprice', 2)} AS avg_price,
           {sql_exact_avg('l_discount', 4)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-agg, fully pushed down. The filter and
    the 8-column projection reach the parquet scan (PushedFilters +
    ReadSchema); one hash agg, partial+final."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            exact_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            exact_sum(disc_price, 4).alias("sum_disc_price"),
            exact_sum(charge, 4).alias("sum_charge"),
            int_avg(F.col("l_quantity").cast("bigint")).alias("avg_qty"),
            exact_avg(F.col("l_extendedprice"), 2).alias("avg_price"),
            exact_avg(F.col("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q3_top_revenue_orders",
    oracle=f"""
    SELECT l.l_orderkey AS o_orderkey,
           {sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: filtered customer (small after filter → broadcast)
    ⋈ orders ⋈ lineitem, group by order, top-10 by revenue.

    customer-filtered is broadcast to orders; orders⋈lineitem shuffles on
    orderkey — at 100 TB that is the unavoidable fact-fact shuffle and the
    group-by reuses the same key so no second shuffle."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_sum(revenue, 4).alias("revenue"))
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            "revenue",
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle=f"""
    SELECT n.n_name AS nation,
           {sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join. region/nation/supplier broadcast
    (dims); customer⋈orders and orders⋈lineitem are the key shuffles."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(exact_sum(revenue, 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "nation")
    )


@query(
    "semi_join_active_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    ORDER BY c_custkey
    """,
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: customers having a >400k order. Semi joins never
    duplicate or widen rows — the right side reduces to its join key."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "anti_join_idle_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    ORDER BY c_custkey
    """,
)
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no pending ('P') order."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "outer_join_order_counts",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS order_count,
           COALESCE({sql_exact_sum('o.o_totalprice', 2)}, 0.0) AS total_spent
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY c.c_custkey
    """,
)
def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + agg: per-customer order count/spend including
    zero-order customers (COUNT of a right-side column skips nulls)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.coalesce(exact_sum(F.col("o_totalprice"), 2), F.lit(0.0)).alias(
                "total_spent"
            ),
        )
        .orderBy("c_custkey")
    )


@query(
    "theta_join_balance_peers",
    oracle="""
    SELECT n.n_name AS nation, COUNT(*) AS peer_pairs
    FROM customer c
    JOIN supplier s ON c.c_nationkey = s.s_nationkey
                   AND c.c_acctbal BETWEEN s.s_acctbal - 100 AND s.s_acctbal + 100
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    ORDER BY peer_pairs DESC, nation
    """,
)
def theta_join_balance_peers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join: customer-supplier pairs in the same nation with
    account balances within ±100. Equi part (nationkey) drives the join
    strategy; the range predicate is a post-join filter — broadcast the
    small side so it never degenerates to a cartesian shuffle."""
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    joined = c.join(
        F.broadcast(s),
        (c.c_nationkey == s.s_nationkey)
        & (c.c_acctbal >= s.s_acctbal - 100)
        & (c.c_acctbal <= s.s_acctbal + 100),
    )
    return (
        joined.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("peer_pairs"))
        .orderBy(F.desc("peer_pairs"), "nation")
    )


@query(
    "set_ops_customer_segments",
    oracle="""
    WITH big_spenders AS (
      SELECT o_custkey AS custkey FROM orders GROUP BY o_custkey
      HAVING SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) / 1e2 > 1500000
    ), building AS (
      SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ), machinery AS (
      SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    )
    SELECT 'big_and_building' AS set_name, COUNT(*) AS n
    FROM (SELECT custkey FROM big_spenders INTERSECT SELECT custkey FROM building)
    UNION ALL
    SELECT 'big_except_machinery' AS set_name, COUNT(*) AS n
    FROM (SELECT custkey FROM big_spenders EXCEPT SELECT custkey FROM machinery)
    UNION ALL
    SELECT 'building_union_machinery' AS set_name, COUNT(*) AS n
    FROM (SELECT custkey FROM building UNION SELECT custkey FROM machinery)
    ORDER BY set_name
    """,
)
def set_ops_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: INTERSECT / EXCEPT / UNION(distinct) over customer
    key sets, each reduced to a count."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    big = (
        o.groupBy("o_custkey")
        .agg(exact_sum(F.col("o_totalprice"), 2).alias("spend"))
        .filter(F.col("spend") > 1500000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    building = c.filter(c.c_mktsegment == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    machinery = c.filter(c.c_mktsegment == "MACHINERY").select(
        F.col("c_custkey").alias("custkey")
    )

    def tagged(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(
            F.lit(tag).alias("set_name"), "n"
        )

    return (
        tagged(big.intersect(building), "big_and_building")
        .unionByName(tagged(big.exceptAll(machinery.distinct()), "big_except_machinery"))
        .unionByName(tagged(building.union(machinery).distinct(), "building_union_machinery"))
        .orderBy("set_name")
    )


@query(
    "distinct_counts",
    oracle="""
    SELECT COUNT(DISTINCT o_custkey) AS n_customers_with_orders,
           COUNT(DISTINCT o_orderpriority) AS n_priorities,
           COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_order_days
    FROM orders
    """,
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column COUNT(DISTINCT) in one aggregate (Catalyst
    expands to a single multi-distinct hash agg)."""
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_customers_with_orders"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.countDistinct(F.col("o_orderdate").cast("date")).alias("n_order_days"),
    )


@query(
    "approx_distinct_counts",
    oracle="""
    SELECT CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders) AS BIGINT) AS exact_custkeys,
           TRUE AS custkeys_within_tol,
           CAST((SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS BIGINT) AS exact_partkeys,
           TRUE AS partkeys_within_tol
    """,
)
def approx_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB-scale answer to
    COUNT(DISTINCT) on high-cardinality keys: one pass, fixed memory, no
    shuffle of the distinct values themselves. Sketch values are
    engine-specific, so the checkable output is a tolerance verdict:
    |approx - exact| / exact <= 0.05 (sketch rsd 0.01), with the exact
    side emitted on both engines."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    ocnt = o.agg(
        F.countDistinct("o_custkey").alias("exact_custkeys"),
        F.approx_count_distinct("o_custkey", 0.01).alias("approx_custkeys"),
    )
    lcnt = li.agg(
        F.countDistinct("l_partkey").alias("exact_partkeys"),
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_partkeys"),
    )
    return ocnt.crossJoin(lcnt).select(
        "exact_custkeys",
        within_tol("approx_custkeys", "exact_custkeys").alias("custkeys_within_tol"),
        "exact_partkeys",
        within_tol("approx_partkeys", "exact_partkeys").alias("partkeys_within_tol"),
    )


@query(
    "orders_by_month",
    oracle=f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           o_orderstatus,
           COUNT(*) AS n_orders,
           {sql_exact_sum('o_totalprice', 2)} AS month_revenue
    FROM orders
    GROUP BY 1, o_orderstatus
    ORDER BY order_month, o_orderstatus
    """,
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date bucketing: month × status aggregate — the partition-by-date
    pattern a 100 TB table would be physically laid out on."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("order_month"),
            "o_orderstatus",
        )
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum(F.col("o_totalprice"), 2).alias("month_revenue"),
        )
        .orderBy("order_month", "o_orderstatus")
    )


@query(
    "part_price_bands",
    oracle=f"""
    SELECT CASE WHEN p_retailprice < 500 THEN 'budget'
                WHEN p_retailprice < 1200 THEN 'mid'
                ELSE 'premium' END AS price_band,
           COUNT(*) AS n_parts,
           {sql_int_avg('p_size')} AS avg_size,
           MIN(p_retailprice) AS min_price,
           MAX(p_retailprice) AS max_price
    FROM part
    WHERE p_type LIKE '%A%' OR contains(p_name, 'e')
    GROUP BY 1
    ORDER BY price_band
    """,
)
def part_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function showcase: CASE bucketing + LIKE + contains +
    min/max (exact — no float arithmetic, just comparisons)."""
    p = load(spark, sf_dir, "part")
    band = (
        F.when(F.col("p_retailprice") < 500, "budget")
        .when(F.col("p_retailprice") < 1200, "mid")
        .otherwise("premium")
    )
    return (
        p.filter(F.col("p_type").like("%A%") | F.col("p_name").contains("e"))
        .groupBy(band.alias("price_band"))
        .agg(
            F.count("*").alias("n_parts"),
            int_avg(F.col("p_size")).alias("avg_size"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
        )
        .orderBy("price_band")
    )


@query(
    "unpivot_balance_metrics",
    oracle=f"""
    WITH per_nation AS (
      SELECT c_nationkey,
             {sql_exact_sum('c_acctbal', 2)} AS total_bal,
             MIN(c_acctbal) AS min_bal,
             MAX(c_acctbal) AS max_bal
      FROM customer GROUP BY c_nationkey
    )
    SELECT c_nationkey, metric, value FROM (
      SELECT c_nationkey, 'total_bal' AS metric, total_bal AS value FROM per_nation
      UNION ALL
      SELECT c_nationkey, 'min_bal', min_bal FROM per_nation
      UNION ALL
      SELECT c_nationkey, 'max_bal', max_bal FROM per_nation
    )
    ORDER BY c_nationkey, metric
    """,
)
def unpivot_balance_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide per-nation metrics → long (nation, metric,
    value) — one Expand node, no join (the inverse of pivot)."""
    c = load(spark, sf_dir, "customer")
    wide = c.groupBy("c_nationkey").agg(
        exact_sum(F.col("c_acctbal"), 2).alias("total_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )
    return wide.unpivot(
        ["c_nationkey"], ["total_bal", "min_bal", "max_bal"], "metric", "value"
    ).orderBy("c_nationkey", "metric")


@query(
    "full_outer_reconciliation",
    oracle=f"""
    WITH spend AS (
      SELECT c.c_nationkey AS nationkey, {sql_exact_sum('o.o_totalprice', 2)} AS order_spend
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY c.c_nationkey
    ), balances AS (
      SELECT s_nationkey AS nationkey, {sql_exact_sum('s_acctbal', 2)} AS supplier_balance
      FROM supplier GROUP BY s_nationkey
    )
    SELECT COALESCE(s.nationkey, b.nationkey) AS nationkey,
           COALESCE(s.order_spend, 0.0) AS order_spend,
           COALESCE(b.supplier_balance, 0.0) AS supplier_balance,
           (s.nationkey IS NOT NULL AND b.nationkey IS NOT NULL) AS in_both
    FROM spend s FULL OUTER JOIN balances b ON s.nationkey = b.nationkey
    ORDER BY nationkey
    """,
)
def full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join reconciliation: per-nation customer spend vs
    supplier balances — rows survive from either side, presence flags via
    null checks (the ledger-diff pattern)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load(spark, sf_dir, "supplier")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(exact_sum(F.col("o_totalprice"), 2).alias("order_spend"))
    )
    balances = s.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        exact_sum(F.col("s_acctbal"), 2).alias("supplier_balance")
    )
    a, b = spend.alias("a"), balances.alias("b")
    return (
        a.join(b, F.col("a.nationkey") == F.col("b.nationkey"), "full_outer")
        .select(
            F.coalesce(F.col("a.nationkey"), F.col("b.nationkey")).alias("nationkey"),
            F.coalesce(F.col("order_spend"), F.lit(0.0)).alias("order_spend"),
            F.coalesce(F.col("supplier_balance"), F.lit(0.0)).alias("supplier_balance"),
            (F.col("a.nationkey").isNotNull() & F.col("b.nationkey").isNotNull()).alias("in_both"),
        )
        .orderBy("nationkey")
    )


@query(
    "union_by_name_evolution",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey < 2000
    ), v2 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey < 2000
    )
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    ORDER BY o_orderkey
    """,
)
def union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution union: unionByName(allowMissingColumns=True)
    merges an old-schema slice (missing a column) with a new-schema slice
    — nulls fill the gap, columns match by NAME not position (the only
    safe union once schemas drift across partitions/ages)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    return (
        v1.unionByName(v2, allowMissingColumns=True)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    )


@query(
    "posexplode_tokens",
    oracle="""
    SELECT doc_id, CAST(pos AS INT) AS pos, token FROM (
      SELECT doc_id,
             unnest([{'pos': i - 1, 'token': toks[i]}
                     for i in range(1, len(toks) + 1)], recursive := true)
      FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
        FROM documents WHERE doc_id < 5
      )
    )
    ORDER BY doc_id, pos
    """,
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: token stream with 0-based positions (generator with
    ordinality — what sequence labeling / packing pipelines consume)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    toks = T.ws_tokens(F.lower(F.col("text")))
    return (
        docs.select("doc_id", F.posexplode(toks).alias("pos", "token"))
        .orderBy("doc_id", "pos")
    )


@query(
    "null_safe_equality",
    oracle="""
    WITH tagged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS maybe_status
      FROM orders WHERE o_orderkey < 3000
    )
    SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b
    FROM tagged a JOIN tagged b
      ON a.maybe_status IS NOT DISTINCT FROM b.maybe_status
     AND a.o_orderkey + 1 = b.o_orderkey
    ORDER BY key_a
    """,
)
def null_safe_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=> / IS NOT DISTINCT FROM): adjacent orders
    whose (nullable) status matches treating NULL = NULL as true — the
    semantics ordinary equi-joins silently drop."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000)
    tagged = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_orderstatus"))
        .alias("maybe_status"),
    )
    a = tagged.select(F.col("o_orderkey").alias("key_a"), F.col("maybe_status").alias("st_a"))
    b = tagged.select(F.col("o_orderkey").alias("key_b"), F.col("maybe_status").alias("st_b"))
    return (
        a.join(b, F.col("st_a").eqNullSafe(F.col("st_b")) & (F.col("key_a") + 1 == F.col("key_b")))
        .select("key_a", "key_b")
        .orderBy("key_a")
    )


_N_SALTS = 8


@query(
    "salted_skew_join",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           {sql_exact_sum('e.value', 2)} AS sum_value,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe equi-join by salting: replicate the build side S=8 times
    (one copy per salt) and scatter the probe side by a deterministic
    uniform salt, so a pathological hot key spreads over S tasks instead
    of one straggler. The salt is internal — the result is identical to
    the plain join, which is exactly what the oracle computes (two
    formulations, one answer).

    When to use at 100 TB: the dim is too big to broadcast AND one key
    dominates (AQE's skew split only helps sort-merge joins it can
    re-plan; salting works everywhere, including aggregations — see
    SCALE.md). The fixture dim is broadcastable, so the query forces a
    shuffle_hash hint to actually exercise the salted path."""
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    salts = F.array(*[F.lit(i) for i in range(_N_SALTS)])
    dim = cust.withColumn("d_salt", F.explode(salts))
    fact = ev.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(_N_SALTS)).cast("int")
    )
    joined = fact.join(
        dim.hint("shuffle_hash"),
        (F.col("user_id") == F.col("c_custkey")) & (F.col("salt") == F.col("d_salt")),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "salted_skew_join_zipf",
    oracle=f"""
    WITH cm AS (SELECT MAX(c_custkey) AS cmax FROM customer),
    skewed AS (
      SELECT CASE WHEN e.event_id % 10 < 7 THEN 1
                  ELSE 2 + (e.event_id * 2654435761) % (cm.cmax - 1)
             END AS skew_key,
             e.value
      FROM events e, cm
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           {sql_exact_sum('s.value', 2)} AS sum_value,
           COUNT(DISTINCT s.skew_key) AS n_keys
    FROM skewed s JOIN customer c ON s.skew_key = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def salted_skew_join_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join under REAL skew: 70% of events land on one hot key
    (the fixtures are uniform, so the skew is derived in-flight — a
    deterministic multiplicative hash sends the rest uniformly over the
    customer key range). The salted plan is identical to
    ``salted_skew_join``; what this query adds is the workload where
    salting actually pays: without the salt, one reducer owns 70% of the
    probe side (tests/test_plans.py::test_salted_join_beats_unsalted_on_skew
    measures the straggler directly).

    The hot-key fraction is the pathological shape AQE's skew handling
    does not cover for shuffled-hash joins; salting splits the hot key
    across S=8 tasks unconditionally. The oracle is the plain unsalted
    join — two formulations, one answer."""
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cmax = cust.agg(F.max("c_custkey").alias("cmax"))
    skewed = ev.crossJoin(F.broadcast(cmax)).select(
        F.when(F.col("event_id") % 10 < 7, F.lit(1).cast("bigint"))
        .otherwise(2 + (F.col("event_id") * 2654435761) % (F.col("cmax") - 1))
        .alias("skew_key"),
        "value",
    )
    salts = F.array(*[F.lit(i) for i in range(_N_SALTS)])
    dim = cust.withColumn("d_salt", F.explode(salts))
    fact = skewed.withColumn(
        "salt", F.pmod(F.xxhash64("skew_key", "value"), F.lit(_N_SALTS)).cast("int")
    )
    joined = fact.join(
        dim.hint("shuffle_hash"),
        (F.col("skew_key") == F.col("c_custkey")) & (F.col("salt") == F.col("d_salt")),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value"), 2).alias("sum_value"),
            F.countDistinct("skew_key").alias("n_keys"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "bloom_filter_membership",
    oracle="""
    SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'AUTOMOBILE' AND c.c_acctbal > 4500
    GROUP BY 1
    ORDER BY month
    """,
)
def bloom_filter_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pruning, the Spark-first way: Catalyst's
    runtime bloom-filter join injection (SPARK-32268) builds the filter
    on the selective dim side and pushes might_contain() into the fact
    scan — exactly the hand-rolled bloom prefilter a native engine
    would code, but planned by the optimizer and exact after the join
    (false positives die in the equi-join; results carry no
    approximation, hence a plain-SQL oracle).

    Runs in a forked session (``spark.newSession()`` — shared context,
    isolated SQLConf) so the toy-scale eligibility thresholds
    (broadcast off, creation/application size gates) don't leak into
    sibling queries. At 100 TB the defaults fire on their own: dim
    under 10 MB post-filter, fact over the scan threshold — this conf
    block exists only because the fixture is small.
    tests/test_plans.py::test_runtime_bloom_filter_injects pins the
    might_contain injection itself."""
    s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
    s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    o = load(s, sf_dir, "orders")
    c = load(s, sf_dir, "customer").where(
        (F.col("c_mktsegment") == "AUTOMOBILE") & (F.col("c_acctbal") > 4500)
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "revenue_cents"
            ),
        )
        .orderBy("month")
    )


@query(
    "q9_profit_by_nation_year",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           {sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)'
                          ' - 0.6 * p.p_retailprice * l.l_quantity', 4)} AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: five-table join (lineitem ⋈ part ⋈ supplier ⋈
    nation ⋈ orders), profit = revenue − cost (0.6·retail·qty stands in
    for ps_supplycost — the fixture has no partsupp), grouped by supplier
    nation × order year.

    The plan Catalyst should (and does) pick at any scale: the p_name
    filter prunes part BEFORE the join (predicate pushdown through the
    join); part-filtered, supplier, and nation broadcast — lineitem never
    shuffles for them; the only data shuffle is lineitem ⋈ orders on
    orderkey (fact-fact); the group-by then reduces to
    |nations|·|years| rows. Join ORDER is the point of Q9 — a
    plan that joined lineitem⋈orders first and filtered part last would
    carry every lineitem row through four joins."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(exact_sum(profit, 4).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_FK_LEGS = (
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
)

_FK_LEG_SQL = "\n    UNION ALL\n    ".join(
    f"""SELECT '{name}' AS fk, CAST(COUNT(*) AS BIGINT) AS child_rows,
           CAST(COUNT(*) FILTER (WHERE p.{pkey} IS NULL) AS BIGINT) AS orphan_rows,
           COUNT(*) FILTER (WHERE p.{pkey} IS NULL) = 0 AS ok
    FROM {child} c LEFT JOIN {parent} p ON p.{pkey} = c.{ckey}"""
    for name, child, ckey, parent, pkey in _FK_LEGS
)


@query(
    "fk_integrity_audit",
    oracle=f"""
    SELECT * FROM (
    {_FK_LEG_SQL}
    ) ORDER BY fk
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: for each FK
    edge, total child rows and orphaned child rows (no matching parent)
    — the data-quality gate every warehouse load runs before publishing
    a snapshot.

    Scale shape: each leg is one left join + count aggregate. The three
    lineitem legs join against broadcast-sized parents (part/supplier)
    or the orderkey co-partitioning the pipeline already shuffles on;
    counts are map-side combinable, and the result is five rows no
    matter the input scale. (A real deployment would also run the legs
    against ONE shared scan via GROUPING SETS; kept as separate legs
    here so the per-edge plans stay independently readable.)"""
    result = None
    for name, child, ckey, parent, pkey in _FK_LEGS:
        c = load(spark, sf_dir, child)
        p = load(spark, sf_dir, parent).select(F.col(pkey))
        leg = (
            c.join(p, F.col(pkey) == F.col(ckey), "left")
            .agg(
                F.count("*").alias("child_rows"),
                F.count(F.when(F.col(pkey).isNull(), 1)).alias("orphan_rows"),
            )
            .select(
                F.lit(name).alias("fk"),
                "child_rows",
                "orphan_rows",
                (F.col("orphan_rows") == 0).alias("ok"),
            )
        )
        result = leg if result is None else result.unionByName(leg)
    return result.orderBy("fk")


@query(
    "rollup_time_hierarchy",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS o_quarter,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS o_month,
           {sql_exact_sum('o_totalprice', 2)} AS revenue,
           COUNT(*) AS n_orders,
           CAST(GROUPING(o_year) * 4 + GROUPING(o_quarter) * 2
              + GROUPING(o_month) AS INT) AS lvl
    FROM orders
    GROUP BY ROLLUP (o_year, o_quarter, o_month)
    ORDER BY lvl, o_year, o_quarter, o_month
    """,
)
def rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-hierarchy ROLLUP (year → quarter → month): revenue and
    order counts at every level of the natural time drill-down plus the
    grand total, with GROUPING() encoding the level — the one-pass form
    of the four separate aggregations a reporting layer would otherwise
    run.

    Scale shape: ROLLUP expands each row to its 4 hierarchy levels
    BEFORE the shuffle, but partial aggregation collapses them per
    partition first — one exchange keyed on the grouping-set id, output
    bounded by |years|·5 rows."""
    orders = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("o_year"),
        F.quarter("o_orderdate").alias("o_quarter"),
        F.month("o_orderdate").alias("o_month"),
        "o_totalprice",
    )
    lvl = (
        F.grouping("o_year") * 4 + F.grouping("o_quarter") * 2 + F.grouping("o_month")
    ).cast("int")
    return (
        orders.rollup("o_year", "o_quarter", "o_month")
        .agg(
            exact_sum(F.col("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
            lvl.alias("lvl"),
        )
        .select("o_year", "o_quarter", "o_month", "revenue", "n_orders", "lvl")
        .orderBy("lvl", "o_year", "o_quarter", "o_month")
    )


@query(
    "revenue_mom_change",
    oracle=f"""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             {sql_exact_sum('o_totalprice', 2)} AS revenue
      FROM orders
      GROUP BY month
    )
    SELECT CAST(month AS DATE) AS month, revenue,
           LAG(revenue) OVER (ORDER BY month) AS prev_revenue,
           ROUND((revenue - LAG(revenue) OVER (ORDER BY month))
                 / LAG(revenue) OVER (ORDER BY month) * 100, 6) AS pct_change
    FROM monthly
    ORDER BY month
    """,
)
def revenue_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue deltas: monthly exact-sum aggregate, then
    lag + percent change — the standard KPI-trend query.

    The single-partition window on the MONTHLY aggregate is deliberate:
    after aggregation the series is |months| rows regardless of input
    scale, so the unpartitioned ORDER BY window is a driver-sized sort,
    not a scale hazard (the fact-table shuffle happened keyed on month).
    First month's pct_change is NULL (lag undefined), matching both
    engines; revenue is never 0 for a month that exists (it has ≥1
    order with a positive price), so the ANSI division is safe."""
    orders = load(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(exact_sum(F.col("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        F.to_date("month").alias("month"),
        "revenue",
        prev.alias("prev_revenue"),
        F.round((F.col("revenue") - prev) / prev * 100, 6).alias("pct_change"),
    ).orderBy("month")


@query(
    "q18_large_volume_customers",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 150
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (an IN-subquery over a grouped HAVING), joined back to customer and
    lineitem, top-20 by order value.

    The plan that matters: the subquery becomes an aggregate → LEFT SEMI
    join on orderkey — lineitem is scanned twice but shuffled on the
    SAME key both times (the HAVING aggregate, the semi join, and the
    final group-by all reuse the orderkey partitioning), and the semi
    join prunes orders BEFORE the customer join, so the wide row only
    exists for qualifying orders."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@query(
    "q16_null_aware_anti",
    oracle="""
    SELECT p_type, CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS brand_cnt,
           CAST(COUNT(*) AS BIGINT) AS part_cnt
    FROM part
    WHERE p_brand NOT IN (SELECT p_brand FROM part WHERE p_size = 1)
    GROUP BY p_type
    ORDER BY p_type
    """,
)
def q16_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16's exclusion shape: NOT IN over a subquery — the
    NULL-AWARE anti join, the one join variant with different semantics
    from LEFT ANTI (one NULL in the subquery result empties the output,
    so Spark plans it as a special null-aware join, not a plain anti).
    Expressed as SQL on both engines because the DataFrame API's
    ``left_anti`` is NOT equivalent under NULLs — using it here would be
    a silent semantics bug if the blacklist ever contained one.

    Scale shape: the subquery is tiny after its filter → broadcast
    null-aware anti; the distinct-count aggregate is two-phase
    (partial distinct per partition, final merge)."""
    load(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT p_type, COUNT(DISTINCT p_brand) AS brand_cnt,
               COUNT(*) AS part_cnt
        FROM part
        WHERE p_brand NOT IN (SELECT p_brand FROM part WHERE p_size = 1)
        GROUP BY p_type
        ORDER BY p_type
        """
    )


@query(
    "supplier_shipping_latency",
    oracle="""
    WITH lat AS (
      SELECT l.l_suppkey AS suppkey,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), per_supp AS (
      SELECT suppkey,
             COUNT(*) AS n_shipments,
             SUM(days) AS sum_days,
             MAX(days) AS worst_days
      FROM lat GROUP BY suppkey
    )
    SELECT s.s_name AS supplier,
           CAST(p.n_shipments AS BIGINT) AS n_shipments,
           CAST(p.sum_days AS BIGINT)::DOUBLE / p.n_shipments AS avg_days,
           CAST(p.worst_days AS BIGINT) AS worst_days,
           CAST(ROW_NUMBER() OVER (ORDER BY CAST(p.sum_days AS BIGINT) * 1000000
                                            // p.n_shipments DESC, s.s_name)
                AS INT) AS slowness_rank
    FROM per_supp p JOIN supplier s ON s.s_suppkey = p.suppkey
    ORDER BY slowness_rank
    """,
)
def supplier_shipping_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier SLA scorecard: days between order date and each
    lineitem's ship date, aggregated per supplier (count, exact mean,
    worst case) and ranked slowest-first. The vendor-performance query
    every procurement dashboard runs.

    Determinism: day diffs are integers; the mean is one exact-int
    double division; the RANK orders by the integer-scaled mean
    (``sum·1e6 div n`` — never the double) with a name tiebreak, so
    rank boundaries cannot hinge on float formatting.

    Scale shape: ONE fact-fact join on the order key (the correct
    shuffle), map-side-combinable per-supplier aggregate, dim table
    broadcast. Suppliers are a data-proportional entity (TPC-H: 10k ×
    SF → ~1e9 at 100 TB), so the full slowest-first ranking goes
    through ``with_global_rank`` on ``(-slow_key, supplier)`` — range
    exchange + partition-local numbering + broadcast offset table —
    NEVER an unpartitioned ``row_number`` window that would funnel
    every supplier row into one partition (pinned in
    tests/test_plans.py::test_supplier_latency_no_single_partition)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supp = load(spark, sf_dir, "supplier")
    lat = li.join(orders, F.col("o_orderkey") == F.col("l_orderkey")).select(
        F.col("l_suppkey").alias("suppkey"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("bigint").alias("days"),
    )
    per_supp = lat.groupBy("suppkey").agg(
        F.count("*").alias("n_shipments"),
        F.sum("days").alias("sum_days"),
        F.max("days").alias("worst_days"),
    )
    joined = per_supp.join(
        F.broadcast(supp), per_supp.suppkey == supp.s_suppkey
    ).select(
        F.col("s_name").alias("supplier"),
        "n_shipments",
        (F.col("sum_days").cast("double") / F.col("n_shipments")).alias("avg_days"),
        "worst_days",
        # `div` truncates, DuckDB `//` floors: identical here because
        # sum_days >= 0 (receipt >= ship is a data invariant). Negated
        # so the ASCENDING with_global_rank order means slowest-first.
        (-F.expr("sum_days * 1000000 div n_shipments")).alias("neg_slow_key"),
    )
    ranked = with_global_rank(joined, ["neg_slow_key", "supplier"], rank_col="rn")
    return (
        ranked.withColumn("slowness_rank", F.col("rn").cast("int"))
        .select("supplier", "n_shipments", "avg_days", "worst_days", "slowness_rank")
        .orderBy("slowness_rank")
    )


REC_TOP_K = 20


@query(
    "part_popularity_rec",
    oracle=f"""
    WITH pop AS (
      SELECT l.l_partkey AS partkey,
             COUNT(DISTINCT o.o_custkey) AS n_customers,
             COUNT(*) AS n_lineitems
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY l.l_partkey
    )
    SELECT p.p_name AS part, pop.n_customers, CAST(pop.n_lineitems AS BIGINT) AS n_lineitems,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n_customers DESC, n_lineitems DESC,
                                                partkey) AS rank
          FROM pop) pop
    JOIN part p ON p.p_partkey = pop.partkey
    WHERE rank <= {REC_TOP_K}
    ORDER BY rank
    """,
)
def part_popularity_rec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Popularity-baseline recommender: rank parts by DISTINCT buying
    customers (breadth beats volume — one whale ordering 1000 units is
    not popularity), lineitem count as the tiebreak signal. Every
    recommendation system ships this as the cold-start fallback and the
    offline-eval baseline any personalized model must beat.

    Determinism: distinct counts and integer tiebreaks under a total
    (n_customers, n_lineitems, partkey) order.

    Scale shape: one fact-fact join on the order key, a partkey-keyed
    count-distinct (two-phase under AQE), top-k rank over the PART-sized
    aggregate with the dim name joined back broadcast."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    part = load(spark, sf_dir, "part")
    pop = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.count_distinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_lineitems"),
        )
    )
    return (
        rank_after_limit(
            pop,
            [F.desc("n_customers"), F.desc("n_lineitems"), F.col("partkey")],
            REC_TOP_K,
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("partkey"))
        .select(F.col("p_name").alias("part"), "n_customers", "n_lineitems", "rank")
        .orderBy("rank")
    )


@query(
    "order_size_distribution",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(n_lines AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(n_lines) AS BIGINT) AS n_lineitems
    FROM per_order GROUP BY n_lines
    ORDER BY n_lines
    """,
)
def order_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size (lineitems per order) distribution — the fan-out
    histogram that sizes every orders⋈lineitem join's row-multiplication
    and decides whether per-order payloads fit nested (the
    ``nested_order_lines`` representation) or must stay flat.

    Determinism: pure integer counts.

    Scale shape: two map-side-combinable aggregates — the per-order
    count collapses the fact table on its natural key; the histogram
    keys on the count itself (tiny domain)."""
    li = load(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(F.count("*").alias("n_lines"))
    return (
        per_order.groupBy("n_lines")
        .agg(F.count("*").alias("n_orders"), F.sum("n_lines").alias("n_lineitems"))
        .orderBy("n_lines")
    )


COFILTER_MIN_CO = 4
COFILTER_BASKET_CAP = 200
COFILTER_TOP_K = 25


@query(
    "item_cofiltering_similarity",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), sized AS (
      SELECT ck FROM baskets GROUP BY ck
      HAVING COUNT(*) <= {COFILTER_BASKET_CAP}
    ), kept AS (
      SELECT b.ck, b.pk FROM baskets b JOIN sized s ON s.ck = b.ck
    ), pop AS (
      SELECT pk, CAST(COUNT(*) AS BIGINT) AS n FROM kept GROUP BY pk
    ), co AS (
      SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS co
      FROM kept a JOIN kept b ON a.ck = b.ck AND a.pk < b.pk
      GROUP BY part_a, part_b
      HAVING COUNT(*) >= {COFILTER_MIN_CO}
    ), scored AS (
      SELECT c.part_a, c.part_b, c.co, pa.n AS n_a, pb.n AS n_b,
             CAST(ROUND(c.co::DOUBLE / sqrt(pa.n::DOUBLE * pb.n) * 1e6) AS BIGINT) AS cos_i6
      FROM co c
      JOIN pop pa ON pa.pk = c.part_a
      JOIN pop pb ON pb.pk = c.part_b
    )
    SELECT part_a, part_b, co, n_a, n_b, cos_i6::DOUBLE / 1e6 AS cosine,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY cos_i6 DESC, part_a, part_b) AS rank
          FROM scored)
    WHERE rank <= {COFILTER_TOP_K}
    ORDER BY rank
    """,
)
def item_cofiltering_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering by co-purchase cosine (the
    classic Amazon item-to-item shape, Linden et al. 2003): two parts
    are similar when the customers who buy one tend to buy the other —
    cosine(a, b) = co(a,b) / sqrt(n_a * n_b) over distinct
    customer-part baskets, support floor co >= {COFILTER_MIN_CO},
    top-{COFILTER_TOP_K} pairs.

    Determinism: all counts are integers; the cosine is ONE pinned
    double chain (co / sqrt(n_a*n_b)) rounded once to 6 dp per PAIR
    type; ranking breaks ties by (part_a, part_b).

    Scale shape: the pair generation is the customer-keyed self-join —
    fan-out is basket-size^2 per customer, so baskets above
    {COFILTER_BASKET_CAP} distinct parts are dropped FIRST (the
    standard co-counting cap: mega-accounts are bots/aggregators and
    would dominate the shuffle; the cap makes worst-case fan-out a
    constant). Distinct-ification and both count layers are
    map-side-combinable; popularity joins are vocabulary-sized
    broadcasts; top-k is TakeOrdered."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    baskets = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    sized = baskets.groupBy("ck").agg(F.count("*").alias("_bs")).filter(
        F.col("_bs") <= COFILTER_BASKET_CAP
    )
    kept = baskets.join(sized.select("ck"), "ck").localCheckpoint()
    pop = kept.groupBy("pk").agg(F.count("*").alias("n"))
    a = kept.select("ck", F.col("pk").alias("part_a"))
    b = kept.select("ck", F.col("pk").alias("part_b"))
    co = (
        a.join(b, "ck")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("co"))
        .filter(F.col("co") >= COFILTER_MIN_CO)
    )
    pa = pop.select(F.col("pk").alias("part_a"), F.col("n").alias("n_a"))
    pb = pop.select(F.col("pk").alias("part_b"), F.col("n").alias("n_b"))
    scored = (
        co.join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .select(
            "part_a",
            "part_b",
            "co",
            "n_a",
            "n_b",
            F.round(
                F.col("co").cast("double")
                / F.sqrt(F.col("n_a").cast("double") * F.col("n_b"))
                * F.lit(1e6)
            )
            .cast("bigint")
            .alias("cos_i6"),
        )
    )
    return (
        rank_after_limit(
            scored, [F.desc("cos_i6"), F.col("part_a"), F.col("part_b")], COFILTER_TOP_K
        )
        .select(
            "part_a",
            "part_b",
            "co",
            "n_a",
            "n_b",
            (F.col("cos_i6").cast("double") / F.lit(1e6)).alias("cosine"),
            "rank",
        )
        .orderBy("rank")
    )


REC_SPLIT_DATE = "2000-01-01"
REC_PER_ITEM = 3


@query(
    "recsys_holdout_hitrate",
    oracle=f"""
    WITH train_b AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate < '{REC_SPLIT_DATE}'
    ), sized AS (
      SELECT ck FROM train_b GROUP BY ck
      HAVING COUNT(*) <= {COFILTER_BASKET_CAP}
    ), train AS (
      SELECT b.ck, b.pk FROM train_b b JOIN sized s ON s.ck = b.ck
    ), test_raw AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate >= '{REC_SPLIT_DATE}'
    ), test AS (
      SELECT t.ck, t.pk FROM test_raw t
      WHERE NOT EXISTS (SELECT 1 FROM train tr
                        WHERE tr.ck = t.ck AND tr.pk = t.pk)
    ), co AS (
      SELECT a.pk AS src, b.pk AS rec, CAST(COUNT(*) AS BIGINT) AS co
      FROM train a JOIN train b ON a.ck = b.ck AND a.pk <> b.pk
      GROUP BY src, rec
    ), top3 AS (
      SELECT src, rec FROM (
        SELECT src, rec,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY co DESC, rec) AS rn
        FROM co) WHERE rn <= {REC_PER_ITEM}
    ), recset AS (
      SELECT DISTINCT tr.ck, t3.rec
      FROM train tr JOIN top3 t3 ON t3.src = tr.pk
    ), counts AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM test) AS n_test,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM test t
         WHERE EXISTS (SELECT 1 FROM train tr WHERE tr.ck = t.ck)) AS n_covered,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM test t
         JOIN recset r ON r.ck = t.ck AND r.rec = t.pk) AS n_hits
    )
    SELECT n_test, n_covered, n_hits,
           CASE WHEN n_covered = 0 THEN NULL
                ELSE n_hits::DOUBLE / n_covered END AS hit_rate
    FROM counts
    """,
)
def recsys_holdout_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recommender evaluation with a TEMPORAL split (the only
    honest one — random splits leak the future): co-purchase top-
    {REC_PER_ITEM} item-item recommendations are trained on orders
    before {REC_SPLIT_DATE}, then scored on whether each customer's NEW
    post-split purchases appear in the union of recommendations seeded
    by their training basket. Reports test size, coverage (customers
    with any training history), hits, and hit rate.

    Determinism: splits, baskets, co-counts, and the per-item top-k
    (co DESC, rec) are all integers with total-order tiebreaks; the
    hit rate is one guarded double divide.

    Scale shape: the training pair join inherits
    ``item_cofiltering_similarity``'s basket cap; the per-item top-k is
    a part-partitioned WindowGroupLimit; rec-set expansion and scoring
    are customer/part equi-joins; the three counts are scalar
    aggregates assembled broadcast."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    all_b = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").alias("ck"),
            F.col("l_partkey").alias("pk"),
            "o_orderdate",
        )
    )
    train_b = all_b.filter(F.col("o_orderdate") < REC_SPLIT_DATE).select(
        "ck", "pk"
    ).distinct()
    sized = train_b.groupBy("ck").agg(F.count("*").alias("_bs")).filter(
        F.col("_bs") <= COFILTER_BASKET_CAP
    )
    train = train_b.join(sized.select("ck"), "ck").localCheckpoint()
    test = (
        all_b.filter(F.col("o_orderdate") >= REC_SPLIT_DATE)
        .select("ck", "pk")
        .distinct()
        .join(train, ["ck", "pk"], "left_anti")
        .localCheckpoint()
    )
    a = train.select("ck", F.col("pk").alias("src"))
    b = train.select("ck", F.col("pk").alias("rec"))
    co = (
        a.join(b, "ck")
        .filter(F.col("src") != F.col("rec"))
        .groupBy("src", "rec")
        .agg(F.count("*").alias("co"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("co"), "rec")
    top3 = (
        co.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= REC_PER_ITEM)
        .select("src", "rec")
    )
    recset = (
        train.join(top3, train.pk == top3.src)
        .select(F.col("ck").alias("rck"), "rec")
        .distinct()
    )
    n_test = test.agg(F.count("*").alias("n_test"))
    n_covered = (
        test.join(train.select("ck").distinct(), "ck")
        .agg(F.count("*").alias("n_covered"))
    )
    n_hits = (
        test.join(
            recset,
            (F.col("ck") == F.col("rck")) & (F.col("pk") == F.col("rec")),
        )
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        n_test.crossJoin(F.broadcast(n_covered))
        .crossJoin(F.broadcast(n_hits))
        .select(
            "n_test",
            "n_covered",
            "n_hits",
            F.when(F.col("n_covered") == 0, F.lit(None).cast("double"))
            .otherwise(F.col("n_hits").cast("double") / F.col("n_covered"))
            .alias("hit_rate"),
        )
    )
