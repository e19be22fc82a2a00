"""Core relational parity queries (SURVEY.md §2.3-2.8) on the TPC-H-ish fixtures.

Each entry re-expresses a capability the reference promises through its
DuckDB SELECT surface (reference doc.py:183-188 prompt contract; examples
README.md:61-62, WEB_APP_README.md:107-119) as an idiomatic Spark
DataFrame plan plus a DuckDB oracle SQL string.

Conventions (driver hash-compare fidelity — rationale in
ai_duckdb_spark/functions/exact.py):
  * every computed column is aliased identically on both sides;
  * money SUM/AVG go through exact decimal aggregation (order-free,
    bit-identical cross-engine); integer sums/avgs and min/max
    passthroughs are already exact and stay UNrounded;
  * computed integers are BIGINT on both sides;
  * timestamps in output are formatted to strings;
  * ORDER BY ... LIMIT always carries a unique tiebreaker column.

Scale notes: all plans are pure declarative DataFrame/SQL — Catalyst gets
filter pushdown + column pruning into the parquet scans, partial
aggregation before shuffles, and AQE picks broadcast sides at runtime.
``region``/``nation`` are explicitly broadcast (fixed tiny cardinality at
any scale factor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import _finish, avg_sql, cents, dec, exact_avg, exact_sum, sum_sql
from ..tables import load
from .catalog import register

_DISC_PRICE = "l_extendedprice * (1 - l_discount)"
_CHARGE = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"


def _disc_price() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# --------------------------------------------------------------------------
# G1+O1 — the flagship query shape: revenue aggregation + argmax
# (reference README.md:61-62 `SELECT sales_rep, SUM(price*quantity) ...
#  ORDER BY total_sales DESC LIMIT 1`, transposed to lineitem/suppliers).
# --------------------------------------------------------------------------
@register(
    "flagship_revenue_argmax",
    oracle=f"""
    SELECT l_suppkey,
           {sum_sql(_DISC_PRICE, 4)} AS total_revenue
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY total_revenue DESC, l_suppkey
    LIMIT 1
    """,
)
def flagship_revenue_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-revenue supplier: group-sum of a computed expression + argmax.

    Spark plans partial aggregation map-side, shuffles only (suppkey →
    partial sums), and TakeOrderedAndProject for the LIMIT — no global
    sort materialization at any scale.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_suppkey")
        .agg(exact_sum(_disc_price(), 4).alias("total_revenue"))
        .orderBy(F.desc("total_revenue"), F.asc("l_suppkey"))
        .limit(1)
    )


# --------------------------------------------------------------------------
# G1-G10 — TPC-H Q1 shape: multi-aggregate pricing summary.
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           sum(l_quantity)                AS sum_qty,
           {sum_sql('l_extendedprice')}   AS sum_base_price,
           {sum_sql(_DISC_PRICE, 4)}      AS sum_disc_price,
           {sum_sql(_CHARGE, 6)}          AS sum_charge,
           avg(l_quantity)                AS avg_qty,
           {avg_sql('l_extendedprice')}   AS avg_price,
           {avg_sql('l_discount')}        AS avg_disc,
           count(*)                       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: 8 aggregates over 2 grouping keys.

    One shuffle on the (low-cardinality) grouping keys after map-side
    partial aggregation; the shipdate predicate is pushed to the parquet
    scan (PushedFilters in the physical plan). Quantities are
    integer-valued, so their double sum/avg is already exact; money
    aggregates go through exact decimal (functions/exact.py).
    """
    li = load(spark, sf_dir, "lineitem")
    charge = _disc_price() * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            exact_sum(_disc_price(), 4).alias("sum_disc_price"),
            exact_sum(charge, 6).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            exact_avg("l_extendedprice").alias("avg_price"),
            exact_avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# P1/P4/P5 — projection + conjunctive equality/range predicates
# (reference examples "评分超过4.5" / "库存少于30" WEB_APP_README.md:117-118).
# --------------------------------------------------------------------------
@register(
    "filter_project_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity >= 48
      AND l_returnflag = 'R'
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    """,
)
def filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow projection + selective conjunctive filter.

    All four predicates and the 5-column projection reach the parquet
    scan (column pruning + predicate pushdown) — the scan reads 5 of 11
    columns, which is the difference between reading ~45% and 100% of
    the table at 100 TB.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice"
    ).filter(
        (F.col("l_quantity") >= 48)
        & (F.col("l_returnflag") == "R")
        & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )


# --------------------------------------------------------------------------
# P3/F1 — computed projections (reference `price * quantity` README.md:61).
# Row-level rounding is exact here: the true values have exactly 4 / 6
# decimals, so both engines land on the identical nearest double.
# --------------------------------------------------------------------------
@register(
    "computed_projection",
    oracle=f"""
    SELECT l_orderkey,
           l_linenumber,
           round({_DISC_PRICE}, 4)          AS revenue,
           round({_CHARGE}, 6)              AS charge,
           CAST(l_quantity * 100 AS BIGINT) AS qty_pct
    FROM lineitem
    WHERE l_quantity < 3
    """,
)
def computed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level arithmetic expressions (no aggregation)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") < 3).select(
        "l_orderkey",
        "l_linenumber",
        F.round(_disc_price(), 4).alias("revenue"),
        F.round(_disc_price() * (1 + F.col("l_tax")), 6).alias("charge"),
        (F.col("l_quantity") * 100).cast("long").alias("qty_pct"),
    )


# --------------------------------------------------------------------------
# P6/F2 — temporal predicate ("2024年1月的所有电子产品" WEB_APP_README.md:112
# transposed: January-1996 urgent orders).
# --------------------------------------------------------------------------
@register(
    "temporal_filter",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM orders
    WHERE year(o_orderdate) = 1996
      AND month(o_orderdate) = 1
      AND o_orderpriority = '1-URGENT'
    """,
)
def temporal_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month/year extraction predicate + category equality conjunction."""
    orders = load(spark, sf_dir, "orders")
    return orders.filter(
        (F.year("o_orderdate") == 1996)
        & (F.month("o_orderdate") == 1)
        & (F.col("o_orderpriority") == "1-URGENT")
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


# --------------------------------------------------------------------------
# J1/G2 — left outer equi-join + per-group counts
# (reference database.py:190-195 chat_records ⟕ files, transposed).
# --------------------------------------------------------------------------
@register(
    "join_customer_orders_left",
    oracle=f"""
    SELECT c.c_custkey,
           c.c_mktsegment,
           count(o.o_orderkey)                            AS n_orders,
           coalesce({sum_sql('o.o_totalprice')}, 0.0)     AS total_spent
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def join_customer_orders_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join preserving order-less customers, counted and summed.

    Jobs audit: the aggregation is pushed BELOW the join — orders
    collapse to one (custkey, n, sum) row per customer first (map-side
    partial aggregation shrinks the shuffle from |orders| rows to
    |customers-with-orders|), then the left join attaches the totals
    and order-less customers coalesce to (0, 0.0). Identical result —
    c_custkey is unique, so post-join grouping was grouping a relation
    the pre-aggregation already keys — but the join input drops 10x
    and the post-join HashAggregate disappears (2.3 s -> ~1.4 s at
    sf1.0). At cluster scale both sides hash-partition on custkey; AQE
    broadcasts the aggregated side when small. The exact-decimal sum is
    computed once per customer in the pre-aggregation; coalesce AFTER
    the join supplies the 0.0 for customers with no orders."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("__n"),
        exact_sum("o_totalprice").alias("__sum"),
    )
    return customer.join(
        per_cust, customer.c_custkey == per_cust.o_custkey, "left"
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce(F.col("__n"), F.lit(0).cast("long")).alias("n_orders"),
        F.coalesce(F.col("__sum"), F.lit(0.0)).alias("total_spent"),
    )


# --------------------------------------------------------------------------
# J3 — multi-way join through the dimension chain, dims broadcast
# (reference "关联分析" README.md:92; TPC-H Q5 shape).
# --------------------------------------------------------------------------
@register(
    "join_multiway_region_revenue",
    oracle=f"""
    SELECT r.r_name                                      AS region_name,
           n.n_name                                      AS nation_name,
           {sum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue,
           count(DISTINCT o.o_orderkey)                  AS n_orders
    FROM customer c
    JOIN nation   n ON c.c_nationkey = n.n_nationkey
    JOIN region   r ON n.n_regionkey = r.r_regionkey
    JOIN orders   o ON o.o_custkey   = c.c_custkey
    JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY r.r_name, n.n_name
    ORDER BY region_name, nation_name
    """,
)
def join_multiway_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by region/nation: 4-way join, two explicit broadcasts,
    eager pre-aggregation of the widest fact.

    nation (25 rows) and region (5 rows) are broadcast — fixed size at
    ANY scale factor. lineitem revenue is aggregated per orderkey BEFORE
    the join (eager-aggregation rewrite): the fact-fact join then moves
    one row per order instead of one per line item (~4x less shuffle at
    TPC-H shape), and the COUNT(DISTINCT o_orderkey) collapses to a
    plain count because orderkey is unique post-aggregation. The
    one-year order-date slice semi-reduces lineitem BEFORE that
    aggregate (the filter is on orders, but only qualifying orders'
    lines can contribute — at TPC-H's 7-year spread this drops ~6/7 of
    the aggregate input and shuffle; AQE picks broadcast vs shuffled
    semi-join by the filtered key set's measured size). Cents sums
    are associative longs, so two-level summation is still bit-exact.
    """
    c = load(spark, sf_dir, "customer")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region"))
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    li_rev = (
        li.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_semi")
        .groupBy("l_orderkey")
        .agg(F.sum(cents(_disc_price(), 4)).alias("__rev_cents"))
    )
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li_rev, li_rev.l_orderkey == o.o_orderkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            _finish(F.sum("__rev_cents"), 4).alias("revenue"),
            F.count("o_orderkey").alias("n_orders"),
        )
        .orderBy("region_name", "nation_name")
    )


# --------------------------------------------------------------------------
# J2/W1 — latest-row-per-group (reference database.py:217-232 pattern),
# done the idiomatic Spark way: window + row_number instead of
# join-to-max-subquery (one shuffle instead of two).
# --------------------------------------------------------------------------
@register(
    "latest_order_per_customer",
    oracle="""
    SELECT o_custkey,
           o_orderkey                        AS latest_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS latest_order_date,
           o_totalprice                      AS latest_totalprice
    FROM (
        SELECT *,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC
               ) AS rn
        FROM orders
    )
    WHERE rn = 1
    """,
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest order per customer via ranking window (single shuffle)."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_order_date"),
            F.col("o_totalprice").alias("latest_totalprice"),
        )
    )


# --------------------------------------------------------------------------
# G4/G5 — min/max/avg/sum statistics per group (reference README.md:88).
# min/max are passthrough doubles (already exact) — only sum/avg need the
# exact-decimal path.
# --------------------------------------------------------------------------
@register(
    "group_stats_priority",
    oracle=f"""
    SELECT o_orderpriority,
           count(*)                  AS n_orders,
           min(o_totalprice)         AS min_price,
           max(o_totalprice)         AS max_price,
           {avg_sql('o_totalprice')} AS avg_price,
           {sum_sql('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def group_stats_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full stat block (count/min/max/avg/sum) per category."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            exact_avg("o_totalprice").alias("avg_price"),
            exact_sum("o_totalprice").alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# G8 — DISTINCT aggregates.
# --------------------------------------------------------------------------
@register(
    "distinct_counts",
    oracle="""
    SELECT count(DISTINCT c_mktsegment) AS n_segments,
           count(DISTINCT c_nationkey)  AS n_nations,
           count(*)                     AS n_customers
    FROM customer
    """,
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one aggregation (expand + two-phase agg)."""
    customer = load(spark, sf_dir, "customer")
    return customer.agg(
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count("*").alias("n_customers"),
    )


# --------------------------------------------------------------------------
# G8 — ROLLUP (subtotals + grand total).
# --------------------------------------------------------------------------
@register(
    "rollup_year_status",
    oracle=f"""
    SELECT coalesce(CAST(year(o_orderdate) AS BIGINT), -1) AS order_year,
           coalesce(o_orderstatus, 'ALL')    AS o_orderstatus,
           count(*)                          AS n_orders,
           {sum_sql('o_totalprice')}         AS total_price
    FROM orders
    GROUP BY ROLLUP (CAST(year(o_orderdate) AS BIGINT), o_orderstatus)
    """,
)
def rollup_year_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (year, status): per-cell, per-year subtotal, grand total."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_year", F.year("o_orderdate").cast("long"))
        .rollup("order_year", "o_orderstatus")
        .agg(F.count("*").alias("n_orders"), exact_sum("o_totalprice").alias("total_price"))
        # grouping nulls -> sentinels: subtotal rows stay recognizable and
        # no nullable-numeric column reaches the hash comparator
        .select(
            F.coalesce("order_year", F.lit(-1)).alias("order_year"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            "n_orders",
            "total_price",
        )
    )


# --------------------------------------------------------------------------
# G8 — CUBE (all grouping-set combinations).
# --------------------------------------------------------------------------
@register(
    "cube_flag_status",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
           coalesce(l_linestatus, 'ALL') AS l_linestatus,
           count(*)        AS n_items,
           sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): 4 grouping sets in one pass."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_items"), F.sum("l_quantity").alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n_items",
            "sum_qty",
        )
    )


# --------------------------------------------------------------------------
# O1/O2 — top-N (reference "前5个产品" WEB_APP_README.md:108, "排名分析"
# README.md:91). Unique tiebreaker keeps LIMIT deterministic.
# --------------------------------------------------------------------------
@register(
    "top10_expensive_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def top10_expensive_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10: planned as TakeOrderedAndProject (per-partition
    top-k then merge — no full sort, no single-node bottleneck)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .limit(10)
    )


# --------------------------------------------------------------------------
# O3 — multi-key sort with LIMIT (reference database.py:111,194,231).
# --------------------------------------------------------------------------
@register(
    "orders_multisort",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def orders_multisort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-direction multi-column ordering, top-100."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.asc("o_orderstatus"), F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .limit(100)
    )


# --------------------------------------------------------------------------
# W1 — ranking window, top-3 per group.
# --------------------------------------------------------------------------
@register(
    "window_rank_in_segment",
    oracle="""
    SELECT c_mktsegment,
           c_custkey,
           c_acctbal,
           CAST(bal_rank AS BIGINT) AS bal_rank
    FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS bal_rank
        FROM customer
    )
    WHERE bal_rank <= 3
    """,
)
def window_rank_in_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 account balances per market segment via rank()."""
    customer = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"))
    return (
        customer.withColumn("bal_rank", F.rank().over(w).cast("long"))
        .filter(F.col("bal_rank") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "bal_rank")
    )


# --------------------------------------------------------------------------
# W1 — running aggregate window (trend analysis, reference
# docs/blog_article.md:175 "销量趋势"). Exact-decimal window sum: the
# cumulative frame is order-defined, but decimal keeps it exact on both
# engines regardless of their internal accumulation.
# --------------------------------------------------------------------------
@register(
    "window_running_revenue",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(28,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS VARCHAR) AS DOUBLE) AS running_spend
    FROM orders
    WHERE o_custkey < 200
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer ordered by time (running sum frame)."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


# --------------------------------------------------------------------------
# W1 — lag/lead analytics.
# --------------------------------------------------------------------------
@register(
    "window_order_gaps",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           coalesce(CAST(date_diff('day',
                lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS INTEGER), -1) AS days_since_prev
    FROM orders
    WHERE o_custkey < 200
    """,
)
def window_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days between consecutive orders per customer via lag()."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.coalesce(
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)), F.lit(-1)
        ).alias("days_since_prev"),
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sum_sql(_DISC_PRICE, 4)} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < DATE '1995-03-15'
      AND l_shipdate > DATE '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered 3-way join,
    revenue per unshipped order, top 10. (The fixture has no
    o_shippriority column; the grouping keeps the q3 shape without it.)

    Scale shape: both filters reach their parquet scans (date pushdown),
    the customer side reduces to keys before joining, the final top-10
    is TakeOrderedAndProject — no global sort."""
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("date")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("date")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(exact_sum(_disc_price(), 4).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           {sum_sql(_DISC_PRICE, 4)} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): 6-way join — the canonical
    join-ordering stress test — with the local-supplier constraint
    (customer and supplier share a nation).

    Scale shape: nation⋈region prunes to the ASIA nation keys FIRST and
    broadcasts (25 rows); the date filter pushes to the orders scan; the
    only large shuffles are lineitem⋈orders and the two key joins, all
    on their join keys. Catalyst/AQE pick broadcast sides from measured
    sizes."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    ).select("o_orderkey", "o_custkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(exact_sum(_disc_price(), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH flt AS (
        SELECT l.l_extendedprice,
               CAST(l.l_quantity AS BIGINT)                                AS q,
               sum(CAST(l.l_quantity AS BIGINT))
                   OVER (PARTITION BY l.l_partkey)                         AS sq,
               count(*) OVER (PARTITION BY l.l_partkey)                    AS cnt
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#4'
    )
    SELECT {sum_sql("l_extendedprice", 2)} AS small_qty_revenue,
           count(*)                        AS n_lines
    FROM flt
    WHERE 5 * q * cnt < sq
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the CORRELATED
    aggregate subquery — lineitems below 20% of their part's average
    quantity — decorrelated the way an optimizer would: the brand filter
    prunes via a broadcast join FIRST (brand is a part attribute, so the
    per-part average over the pruned set is unchanged), then ONE window
    shuffle on l_partkey computes the per-part sum/count that the filter
    consumes. No second scan of lineitem, no per-row subquery.

    Exactness: l_quantity is integral, so ``q < 0.2 * avg(q)`` is
    evaluated as the integer cross-multiplication ``5*q*cnt < sum_q`` —
    no float threshold to diverge at the boundary cross-engine."""
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#4")
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    flt = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("q"),
        "l_extendedprice",
    )
    w = Window.partitionBy("l_partkey")
    flt = flt.select(
        "l_extendedprice",
        "q",
        F.sum("q").over(w).alias("sq"),
        F.count("*").over(w).alias("cnt"),
    )
    return flt.filter(5 * F.col("q") * F.col("cnt") < F.col("sq")).agg(
        exact_sum("l_extendedprice", 2).alias("small_qty_revenue"),
        F.count("*").alias("n_lines"),
    )
