"""Scalar-function parity (SURVEY.md §2.8 F1-F5): string, regexp, date/time,
JSON, math, NULL handling — all JVM-side built-ins (whole-stage codegen,
no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from .catalog import register


# --------------------------------------------------------------------------
# F3 — string functions (reference zh-CN text queries WEB_APP_README.md:107-119).
# --------------------------------------------------------------------------
@register(
    "string_funcs_part",
    oracle="""
    SELECT p_partkey,
           upper(substr(p_name, 1, 8))            AS name_prefix,
           CAST(length(p_name) AS INTEGER)        AS name_len,
           concat(p_brand, ':', p_type)           AS brand_type,
           contains(p_name, 'a')                  AS has_a,
           lower(trim(p_type))                    AS type_norm
    FROM part
    WHERE p_partkey <= 500
    """,
)
def string_funcs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/substring/length/concat/contains/lower/trim."""
    part = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return part.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 8)).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.col("p_name").contains("a").alias("has_a"),
        F.lower(F.trim(F.col("p_type"))).alias("type_norm"),
    )


# --------------------------------------------------------------------------
# F3 — regexp functions.
# --------------------------------------------------------------------------
@register(
    "regexp_funcs_part",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_type, '^(\\w+)', 1)  AS type_first_word,
           regexp_matches(p_name, '[0-9]')       AS has_digit,
           regexp_replace(p_brand, '#', '_')     AS brand_norm
    FROM part
    WHERE p_partkey <= 500
    """,
)
def regexp_funcs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract / rlike / regexp_replace."""
    part = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return part.select(
        "p_partkey",
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_first_word"),
        F.col("p_name").rlike("[0-9]").alias("has_digit"),
        F.regexp_replace("p_brand", "#", "_").alias("brand_norm"),
    )


# --------------------------------------------------------------------------
# F2 — date/time functions (reference 时间分析 README.md:90).
# --------------------------------------------------------------------------
@register(
    "date_funcs_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER)                         AS order_year,
           CAST(month(o_orderdate) AS INTEGER)                        AS order_month,
           CAST(quarter(o_orderdate) AS INTEGER)                      AS order_quarter,
           CAST(dayofweek(o_orderdate) AS INTEGER)                    AS dow_sun0,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')     AS month_start,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')                AS month_end,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d')        AS plus_30d,
           CAST(epoch(o_orderdate) AS BIGINT)                         AS epoch_sec
    FROM orders
    WHERE o_orderkey < 1000
    """,
)
def date_funcs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/quarter/dayofweek/date_trunc/last_day/date_add/epoch.

    Spark's dayofweek is 1-based Sunday=1; normalized to Sunday=0 on both
    sides so the contract is engine-neutral.
    """
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.quarter("o_orderdate").alias("order_quarter"),
        (F.dayofweek("o_orderdate") - 1).alias("dow_sun0"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_add(F.col("o_orderdate"), 30), "yyyy-MM-dd").alias("plus_30d"),
        F.unix_timestamp("o_orderdate").alias("epoch_sec"),
    )


# --------------------------------------------------------------------------
# F5 — JSON scalar functions over events.props (FIXTURES.md §B).
# --------------------------------------------------------------------------
@register(
    "json_extract_events",
    oracle="""
    SELECT event_type,
           count(*)                                                       AS n_events,
           avg(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT))           AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object extraction + aggregation over a JSON string column.

    The per-row JSON parse runs in the partial-agg stage, i.e. at scan
    width — one core on the single-split sf1.0 events file — so the
    (event_type, props) projection is widened first (the stage-width
    class, session.widen_narrow_scan; conditional, inert on a many-split
    scan). Measured sf1.0: 2.4 s -> 1.7 s (residual is fresh-session job floor)."""
    from ..session import widen_narrow_scan

    events = widen_narrow_scan(
        load(spark, sf_dir, "events").select("event_type", "props")
    )
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.avg(k).alias("avg_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# F1 — math functions.
# --------------------------------------------------------------------------
@register(
    "math_funcs_lineitem",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           round(sqrt(l_extendedprice), 6)          AS price_sqrt,
           round(ln(l_extendedprice), 6)            AS price_ln,
           round(log10(l_extendedprice), 6)         AS price_log10,
           round(pow(l_discount, 2), 6)             AS disc_sq,
           CAST(ceil(l_quantity) AS BIGINT)         AS qty_ceil,
           CAST(floor(l_quantity) AS BIGINT)        AS qty_floor,
           abs(l_discount - 0.05)                   AS disc_dev,
           l_orderkey % 7                           AS key_mod7
    FROM lineitem
    WHERE l_orderkey < 500
    """,
)
def math_funcs_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqrt/ln/log10/pow/ceil/floor/abs/mod — all codegen'd JVM built-ins."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.round(F.pow("l_discount", F.lit(2)), 6).alias("disc_sq"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor("l_quantity").alias("qty_floor"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
    )


# --------------------------------------------------------------------------
# P7 — NULL handling (nullif/coalesce).
# --------------------------------------------------------------------------
@register(
    "null_handling_status",
    oracle="""
    SELECT coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm,
           count(*) AS n
    FROM orders
    GROUP BY 1
    ORDER BY status_norm
    """,
)
def null_handling_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nullif → NULL → coalesce default, grouped."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
                "status_norm"
            )
        )
        .agg(F.count("*").alias("n"))
        .orderBy("status_norm")
    )


# --------------------------------------------------------------------------
# F1/G-family — conditional aggregation ratios.
# --------------------------------------------------------------------------
@register(
    "urgent_share_by_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           count(*)                          AS n_orders,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*)                    AS urgent_share
    FROM orders
    GROUP BY 1
    ORDER BY order_year
    """,
)
def urgent_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total via conditional SUM / COUNT."""
    orders = load(spark, sf_dir, "orders")
    urgent = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    return (
        orders.withColumn("order_year", F.year("o_orderdate").cast("long"))
        .groupBy("order_year")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(urgent).cast("double") / F.count("*")).alias("urgent_share"),
        )
        .orderBy("order_year")
    )
