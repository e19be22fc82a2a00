"""Set ops, subquery shapes, HAVING, CASE, PIVOT, GROUPING SETS
(SURVEY.md §2.4 J3, §2.5 G8, §2.7 W2 — the promised DuckDB SELECT surface,
reference doc.py:186-188).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import exact_avg, exact_sum
from ..tables import load, register_views
from .catalog import register


def _custkeys_in_year(orders: DataFrame, year: int) -> DataFrame:
    return (
        orders.filter(F.year("o_orderdate") == year)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )


# --------------------------------------------------------------------------
# W2 — UNION / INTERSECT / EXCEPT.
# --------------------------------------------------------------------------
@register(
    "setops_customer_cohorts",
    oracle="""
    WITH y95 AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995),
         y96 AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996)
    SELECT 'both'   AS cohort, count(*) AS n FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
    UNION ALL
    SELECT 'only95' AS cohort, count(*) AS n FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
    UNION ALL
    SELECT 'only96' AS cohort, count(*) AS n FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y95)
    ORDER BY cohort
    """,
)
def setops_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer cohorts by activity year via INTERSECT / EXCEPT / UNION ALL."""
    orders = load(spark, sf_dir, "orders")
    y95 = _custkeys_in_year(orders, 1995)
    y96 = _custkeys_in_year(orders, 1996)
    both = y95.intersect(y96).agg(F.count("*").alias("n")).select(F.lit("both").alias("cohort"), "n")
    only95 = y95.exceptAll(y96).agg(F.count("*").alias("n")).select(F.lit("only95").alias("cohort"), "n")
    only96 = y96.exceptAll(y95).agg(F.count("*").alias("n")).select(F.lit("only96").alias("cohort"), "n")
    return both.unionAll(only95).unionAll(only96).orderBy("cohort")


# --------------------------------------------------------------------------
# J3 — anti join (NOT EXISTS).
# --------------------------------------------------------------------------
@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join (single shuffle, no row duplication)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment", "c_acctbal")


# --------------------------------------------------------------------------
# J3 — semi join (EXISTS).
# --------------------------------------------------------------------------
@register(
    "customers_with_urgent_orders",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join; filter pushed below the join."""
    customer = load(spark, sf_dir, "customer")
    urgent = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# J3 — scalar subquery (orders above a global statistic).
# --------------------------------------------------------------------------
@register(
    "orders_above_double_avg",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 2 * (
        SELECT CAST(CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE)
               / count(o_totalprice)
        FROM orders
    )
    """,
)
def orders_above_double_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: broadcast the 1-row aggregate, filter the fact table.

    The explicit broadcast cross-join is the distributed equivalent of a
    scalar subquery — no driver-side collect in the plan.
    """
    orders = load(spark, sf_dir, "orders")
    avg_df = orders.agg(exact_avg("o_totalprice").alias("__avg_price"))
    return (
        orders.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > 2 * F.col("__avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# J3 — IN subquery.
# --------------------------------------------------------------------------
@register(
    "parts_ordered_at_max_qty",
    oracle="""
    SELECT p_partkey, p_brand, p_type
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity = 50)
    """,
)
def parts_ordered_at_max_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery as semi join against a filtered fact table."""
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") == 50)
    return part.join(li, part.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_brand", "p_type"
    )


# --------------------------------------------------------------------------
# G6 + HAVING.
# --------------------------------------------------------------------------
@register(
    "having_frequent_customers",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders,
           CAST(CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE) AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 16
    """,
)
def having_frequent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = post-aggregation filter."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), exact_sum("o_totalprice").alias("total_spent"))
        .filter(F.col("n_orders") >= 16)
    )


# --------------------------------------------------------------------------
# F1 — CASE WHEN bucketing.
# --------------------------------------------------------------------------
@register(
    "case_when_price_buckets",
    oracle="""
    SELECT CASE WHEN o_totalprice < 25000  THEN 'small'
                WHEN o_totalprice < 100000 THEN 'medium'
                WHEN o_totalprice < 250000 THEN 'large'
                ELSE 'jumbo' END     AS price_bucket,
           count(*)                  AS n_orders,
           CAST(CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE)
               / count(o_totalprice)  AS avg_price
    FROM orders
    GROUP BY 1
    ORDER BY price_bucket
    """,
)
def case_when_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bucketing + aggregation."""
    orders = load(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 25000, "small")
        .when(F.col("o_totalprice") < 100000, "medium")
        .when(F.col("o_totalprice") < 250000, "large")
        .otherwise("jumbo")
    )
    return (
        orders.groupBy(bucket.alias("price_bucket"))
        .agg(F.count("*").alias("n_orders"), exact_avg("o_totalprice").alias("avg_price"))
        .orderBy("price_bucket")
    )


# --------------------------------------------------------------------------
# Pivot (wide conditional aggregation).
# --------------------------------------------------------------------------
@register(
    "pivot_status_by_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT)           AS order_year,
           CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
    FROM orders
    GROUP BY 1
    ORDER BY order_year
    """,
)
def pivot_status_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status pivoted to columns per year. Pivot values are pinned so the
    plan is a single pass (no extra distinct-values job)."""
    orders = load(spark, sf_dir, "orders")
    pv = (
        orders.withColumn("order_year", F.year("o_orderdate").cast("long"))
        .groupBy("order_year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return pv.select(
        "order_year",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    ).orderBy("order_year")


# --------------------------------------------------------------------------
# G8 — GROUPING SETS via the SQL API (exercises spark.sql end to end).
# --------------------------------------------------------------------------
@register(
    "grouping_sets_nation_segment",
    oracle="""
    SELECT coalesce(c_nationkey, -1)      AS c_nationkey,
           coalesce(c_mktsegment, 'ALL')  AS c_mktsegment,
           count(*) AS n,
           CAST(CAST(sum(CAST(round(c_acctbal, 2) AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE)
               / count(c_acctbal) AS avg_bal
    FROM customer
    GROUP BY GROUPING SETS ((c_nationkey), (c_mktsegment), ())
    """,
)
def grouping_sets_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the spark.sql surface.

    The Spark-side SQL keeps the DIRECT decimal→double cast — Spark's
    Decimal.toDouble is correctly rounded at any magnitude (verified in
    an sf1.0 ulp investigation); only the DuckDB oracle needs the
    VARCHAR round-trip (exact.py sum_sql docstring)."""
    register_views(spark, sf_dir, ["customer"])
    return spark.sql(
        """
        SELECT coalesce(c_nationkey, -1)      AS c_nationkey,
               coalesce(c_mktsegment, 'ALL')  AS c_mktsegment,
               count(*) AS n,
               CAST(sum(CAST(round(c_acctbal, 2) AS DECIMAL(28,2))) AS DOUBLE)
                   / count(c_acctbal) AS avg_bal
        FROM customer
        GROUP BY GROUPING SETS ((c_nationkey), (c_mktsegment), ())
        """
    )


# --------------------------------------------------------------------------
# W2 — UNION ALL of heterogeneous selects (aligned schema).
# --------------------------------------------------------------------------
@register(
    "union_all_high_value_parties",
    oracle="""
    SELECT 'customer' AS party_type, c_custkey AS party_key, c_acctbal AS balance
    FROM customer WHERE c_acctbal > 9900
    UNION ALL
    SELECT 'supplier' AS party_type, s_suppkey AS party_key, s_acctbal AS balance
    FROM supplier WHERE s_acctbal > 9000
    """,
)
def union_all_high_value_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL across two differently-shaped tables, schema aligned."""
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    c = customer.filter(F.col("c_acctbal") > 9900).select(
        F.lit("customer").alias("party_type"),
        F.col("c_custkey").alias("party_key"),
        F.col("c_acctbal").alias("balance"),
    )
    s = supplier.filter(F.col("s_acctbal") > 9000).select(
        F.lit("supplier").alias("party_type"),
        F.col("s_suppkey").alias("party_key"),
        F.col("s_acctbal").alias("balance"),
    )
    return c.unionAll(s)


@register(
    "lateral_top2_orders",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c JOIN LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) t ON true
    WHERE c.c_custkey % 50 = 0
    ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
    """,
)
def lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER+LIMIT (J3 join
    surface, the DuckDB-dialect lateral form): each sampled customer's
    two most expensive orders — the classic "top-N per entity" written
    as the reference engine's users would write it, exercising
    Catalyst's DecorrelateInnerQuery + per-group limit planning rather
    than the window-function formulation (that twin is
    latest_order_per_customer, rank-based).

    Scale shape: the decorrelated plan is one shuffle of the
    (filtered) orders on the customer key with the per-key limit
    applied inside the aggregate side — no global sort; the customer
    sample predicate pushes to its scan. Deterministic under ties via
    the (o_totalprice, o_orderkey) sort pair."""
    from ..tables import register_views

    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c JOIN LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) t
        WHERE c.c_custkey % 50 = 0
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
        """
    )


@register(
    "group_by_all_status_year",
    oracle="""
    SELECT o_orderstatus,
           EXTRACT(year FROM o_orderdate) AS order_year,
           count(*) AS n_orders
    FROM orders
    GROUP BY ALL
    ORDER BY o_orderstatus, order_year
    """,
)
def group_by_all_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL dialect parity (G-tier × NL→SQL fidelity): both
    engines infer the grouping keys from the non-aggregate select list
    — the DuckDB-popularized shorthand LLM-generated SQL reaches for
    constantly, so the executor surface must accept it verbatim. Run
    through spark.sql to pin the SQL-dialect path, not a DataFrame
    translation."""
    from ..tables import register_views

    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_orderstatus,
               EXTRACT(year FROM o_orderdate) AS order_year,
               count(*) AS n_orders
        FROM orders
        GROUP BY ALL
        ORDER BY o_orderstatus, order_year
        """
    )
