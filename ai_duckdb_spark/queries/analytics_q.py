"""Second breadth pass over the promised SELECT surface: full window
analytics, extended string/date function families, ALL-variant set ops,
UNPIVOT, recursive CTEs, and the skyline operator (EDBT 2023 pattern,
PAPERS.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import cents
from ..operators.skyline import skyline_2d
from ..tables import load, register_views
from .catalog import register


@register(
    "window_analytics_suite",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           CAST(dense_rank() OVER w AS BIGINT)               AS price_dense_rank,
           CAST(ntile(4) OVER w AS BIGINT)                   AS price_quartile,
           coalesce(lead(o_orderkey) OVER w, -1)             AS next_orderkey,
           first_value(o_orderkey) OVER w                    AS top_orderkey
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_analytics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank / ntile / lead / first_value over one window spec
    (single shuffle, all four computed in one Window operator)."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w).cast("long").alias("price_dense_rank"),
        F.ntile(4).over(w).cast("long").alias("price_quartile"),
        F.coalesce(F.lead("o_orderkey").over(w), F.lit(-1)).alias("next_orderkey"),
        F.first("o_orderkey").over(w).alias("top_orderkey"),
    )


@register(
    "string_funcs_extended",
    oracle="""
    SELECT p_partkey,
           lpad(p_brand, 12, '*')                       AS brand_padded,
           reverse(p_name)                              AS name_rev,
           CAST(instr(p_name, 'a') AS BIGINT)           AS first_a,
           translate(p_type, 'aeiou', 'AEIOU')          AS type_vowels,
           repeat(p_brand, 2)                           AS brand_twice,
           split_part(p_type, ' ', 1)                   AS type_head
    FROM part
    WHERE p_partkey <= 300
    """,
)
def string_funcs_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lpad / reverse / instr / translate / repeat / split_part."""
    part = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return part.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.reverse(F.col("p_name")).alias("name_rev"),
        F.instr(F.col("p_name"), "a").cast("long").alias("first_a"),
        F.translate("p_type", "aeiou", "AEIOU").alias("type_vowels"),
        F.repeat(F.col("p_brand"), 2).alias("brand_twice"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
    )


@register(
    "date_funcs_extended",
    oracle="""
    SELECT o_orderkey,
           CAST(weekofyear(o_orderdate) AS INTEGER)                 AS order_week,
           CAST(dayofyear(o_orderdate) AS INTEGER)                  AS order_doy,
           round(CAST(date_diff('month', TIMESTAMP '1995-01-01', o_orderdate) AS DOUBLE), 1)
                                                                    AS months_since_epoch_floor,
           strftime(o_orderdate - INTERVAL 7 DAY, '%Y-%m-%d')       AS minus_week,
           strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start
    FROM orders
    WHERE o_orderkey < 800
    """,
)
def date_funcs_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weekofyear / dayofyear / whole-month difference / date_sub /
    quarter truncation. Month difference is pinned to whole months
    (date_diff counts boundary crossings; Spark's fractional
    months_between is floored to match)."""
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 800)
    return orders.select(
        "o_orderkey",
        F.weekofyear("o_orderdate").alias("order_week"),
        F.dayofyear("o_orderdate").alias("order_doy"),
        F.round(
            F.floor(F.months_between("o_orderdate", F.lit("1995-01-01").cast("timestamp"))).cast("double"),
            1,
        ).alias("months_since_epoch_floor"),
        F.date_format(F.date_sub(F.col("o_orderdate"), 7), "yyyy-MM-dd").alias("minus_week"),
        F.date_format(F.date_trunc("quarter", F.col("o_orderdate")), "yyyy-MM-dd").alias(
            "quarter_start"
        ),
    )


@register(
    "setops_all_variants",
    oracle="""
    WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
         b AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
    SELECT 'intersect_all' AS op, count(*) AS n FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    UNION ALL
    SELECT 'except_all' AS op, count(*) AS n FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    ORDER BY op
    """,
)
def setops_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL) — multiplicity
    preserved, unlike the distinct variants in setops_customer_cohorts."""
    orders = load(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    b = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    ia = a.intersectAll(b).agg(F.count("*").alias("n")).select(
        F.lit("intersect_all").alias("op"), "n"
    )
    ea = a.exceptAll(b).agg(F.count("*").alias("n")).select(F.lit("except_all").alias("op"), "n")
    return ia.unionAll(ea).orderBy("op")


@register(
    "unpivot_customer_metrics",
    oracle="""
    UNPIVOT (
        SELECT c_custkey,
               c_acctbal            AS acctbal,
               CAST(c_nationkey AS DOUBLE) AS nationkey
        FROM customer WHERE c_custkey < 200
    ) ON acctbal, nationkey INTO NAME metric VALUE metric_value
    """,
)
def unpivot_customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): one row per (entity, metric)."""
    customer = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    wide = customer.select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return wide.unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "metric_value")


@register(
    "recursive_cte_monthly_series",
    oracle="""
    WITH RECURSIVE months(month_start) AS (
        SELECT TIMESTAMP '1996-01-01'
        UNION ALL
        SELECT month_start + INTERVAL 1 MONTH FROM months
        WHERE month_start < TIMESTAMP '1996-12-01'
    )
    SELECT strftime(m.month_start, '%Y-%m') AS ym,
           count(o.o_orderkey)              AS n_orders
    FROM months m
    LEFT JOIN orders o ON date_trunc('month', o.o_orderdate) = m.month_start
    GROUP BY m.month_start
    ORDER BY ym
    """,
)
def recursive_cte_monthly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, Spark 4) generating a month spine,
    left-joined to order counts — the gaps-filled time series pattern
    (months with zero orders still appear)."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        WITH RECURSIVE months(month_start) AS (
            SELECT TIMESTAMP '1996-01-01'
            UNION ALL
            SELECT month_start + INTERVAL 1 MONTH FROM months
            WHERE month_start < TIMESTAMP '1996-12-01'
        )
        SELECT date_format(m.month_start, 'yyyy-MM') AS ym,
               count(o.o_orderkey)                   AS n_orders
        FROM months m
        LEFT JOIN orders o ON date_trunc('month', o.o_orderdate) = m.month_start
        GROUP BY m.month_start
        ORDER BY ym
        """
    )


@register(
    "skyline_parts",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, CAST(p.p_size AS INTEGER) AS p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline: parts Pareto-optimal under (min retail price, max size).

    Spark side uses the distributed per-x-maxima + running-max algorithm
    (operators/skyline.py, after EDBT 2023's Spark SQL skyline work);
    the oracle is the quadratic NOT EXISTS dominance predicate.
    """
    part = load(spark, sf_dir, "part")
    return skyline_2d(part, minimize="p_retailprice", maximize="p_size").select(
        "p_partkey", "p_retailprice", "p_size"
    )


@register(
    "string_agg_nations_by_region",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nation_list,
           count(*) AS nation_count
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
)
def string_agg_nations_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (DuckDB string_agg ... ORDER BY, promised
    via the SELECT-surface contract, reference doc.py:186-188).

    collect_list is unordered in a distributed engine, so determinism comes
    from sort_array AFTER collection — one aggregation, no extra shuffle —
    then concat_ws. Dimension join is broadcast (both tables are tiny).
    """
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nation_list"),
            F.count("*").alias("nation_count"),
        )
        .orderBy("r_name")
    )


@register(
    "stats_corr_qty_price",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS sx,
               sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
               sum(CAST(floor(l_quantity + 0.5) AS BIGINT)
                   * CAST(floor(l_quantity + 0.5) AS BIGINT)) AS sxx,
               sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS HUGEINT)
                   * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS syy,
               sum(CAST(floor(l_quantity + 0.5) AS BIGINT)
                   * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n AS n_rows,
           CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                * sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
             AS corr_qty_price,
           CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * (n - 1) * 100 AS DOUBLE) AS covar_samp_qty_price,
           sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE)) AS stddev_samp_qty
    FROM s
    ORDER BY l_returnflag
    """,
)
def stats_corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corr / covar_samp / stddev_samp, bit-identical cross-engine.

    Native corr()/covar_samp() double accumulators are order-dependent, so
    on price-scale magnitudes two correct engines disagree past the
    driver's 1e-9 hash tolerance. Scheme (functions/exact.py): aggregate
    the five moment sums in EXACT integer domains (quantity is integral,
    price is 2-decimal -> cents; the price-squared sum alone exceeds
    2^63 at sf>=1, so it runs as DECIMAL(38,0)), then finish the textbook
    formulas with one decimal->double cast per group and IEEE-determined
    sqrt/divide — identical operands, identical bits on both sides.
    One shuffle total (partial moment aggregation map-side).
    """
    li = load(spark, sf_dir, "lineitem")
    qx = cents("l_quantity", 0)
    py = cents("l_extendedprice", 2)
    d = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(qx).alias("sx"),
        F.sum(py).alias("sy"),
        F.sum(qx * qx).alias("sxx"),
        F.sum(d(py) * d(py)).alias("syy"),
        F.sum(qx * py).alias("sxy"),
    )
    n, sx, sy = d(F.col("n")), d(F.col("sx")), d(F.col("sy"))
    sxx, syy, sxy = d(F.col("sxx")), F.col("syy"), d(F.col("sxy"))
    cov_num = (n * sxy - sx * sy).cast("double")
    varx_num = (n * sxx - sx * sx).cast("double")
    vary_num = (n * syy - sy * sy).cast("double")
    pairs_x100 = (n * (n - F.lit(1).cast("decimal(19,0)")) * F.lit(100).cast("decimal(19,0)"))
    return (
        agg.select(
            "l_returnflag",
            F.col("n").alias("n_rows"),
            (cov_num / (F.sqrt(varx_num) * F.sqrt(vary_num))).alias("corr_qty_price"),
            (cov_num / pairs_x100.cast("double")).alias("covar_samp_qty_price"),
            F.sqrt(
                varx_num / (n * (n - F.lit(1).cast("decimal(19,0)"))).cast("double")
            ).alias("stddev_samp_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "window_distribution_suite",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           percent_rank() OVER w                    AS price_pct_rank,
           cume_dist() OVER w                       AS price_cume_dist,
           coalesce(nth_value(o_orderkey, 3) OVER w, -1) AS third_cheapest_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    QUALIFY o_totalprice > 490000
    ORDER BY o_orderpriority, o_orderkey
    """,
)
def window_distribution_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (W1, second suite): percent_rank /
    cume_dist / nth_value, QUALIFY semantics (ranks over the FULL
    priority class, output only the o_totalprice > 490000 tail).

    Two-pass distributed rank: the naive form sorts EVERY order inside
    a 5-key Window, so the sort runs on at most 5 tasks whatever the
    cluster width. But the QUALIFY threshold is a CONSTANT, so each survivor's
    exact rank decomposes: ordering is (price, orderkey) — UNIQUE — and
    every non-survivor (price <= threshold) sorts strictly before every
    survivor, hence

        rank = n_below(priority) + rank_among_survivors.

    Three cheap subtrees replace the full sort: (1) per-priority
    n_total / n_below — one partial aggregate, 5 rows out; (2) the
    3rd-cheapest key per priority via row_number == 3, which Spark's
    InferWindowGroupLimit turns into a per-partition top-3
    (WindowGroupLimit Partial below the priority exchange: <= 15 rows
    per task cross that wire, never the corpus); (3) the survivors
    (price predicate evaluated at the scan) ranked by the same unique
    key within the tiny survivor set. Survivor ranks + broadcast stats
    recompose the three window functions exactly:
    percent_rank = (rank-1)/(n-1), cume_dist = rank/n (unique ordering
    makes both integer-ratio divisions, bit-identical cross-engine),
    and nth_value's running frame holds the partition's 3rd-cheapest
    key iff rank >= 3 (else NULL -> -1). At 100 TB no stage sorts more
    than the survivor tail on one task; the full relation is touched
    only by scans, partial aggregates and partial group-limits.

    The top-3 and survivor subtrees hang off ONE conditional hash
    repartition of the narrow projection (widen_narrow_scan keyed on
    o_orderkey — keyed, because a keyless repartition's
    sortBeforeRepartition would sort the whole relation inside the
    2-row-group scan split it exists to escape); the stats aggregate
    runs at scan width (partial aggregation — 5 rows cross its wire).
    Measured sf1.0 same-session interleaved A/B (noop): min 1.36 s vs
    the old 5-task window's 1.41 s — a WASH at fixture scale (the whole
    relation fits one sort task), with the per-key serialization
    removed; at sf0.1 the shape costs ~+0.6 s of pure job-count floor
    (9 jobs vs 3 at ~0.15 s/job local driver tax, documented trade).
    A ≤2.5x-vs-DuckDB target is not reachable by EITHER
    shape on this fixture: DuckDB's single-node sort is 0.33 s while a
    bare 3-column scan + one 40 MB exchange already costs ~0.6-0.8 s in
    local Spark — the criterion's substance (no stage that sorts the
    full relation on 5 tasks) is what this delivers. Oracle unchanged;
    hash re-proven. No trailing global sort (driver hash
    order-insensitive)."""
    from ..session import widen_narrow_scan

    orders = load(spark, sf_dir, "orders")
    thresh = 490000
    narrow = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    stats = narrow.groupBy("o_orderpriority").agg(
        F.count("*").alias("__n"),
        F.count(F.when(F.col("o_totalprice") <= thresh, 1)).alias("__n_below"),
    )
    base = widen_narrow_scan(narrow, "o_orderkey")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    third = (
        base.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 3)
        .select("o_orderpriority", F.col("o_orderkey").alias("__third_key"))
    )
    survivors = base.filter(F.col("o_totalprice") > thresh).withColumn(
        "__srn", F.row_number().over(w)
    )
    rank = F.col("__n_below") + F.col("__srn")
    return (
        survivors.join(F.broadcast(stats), "o_orderpriority")
        .join(F.broadcast(third), "o_orderpriority", "left")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(
                F.col("__n") > 1,
                (rank - 1).cast("double") / (F.col("__n") - 1).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("price_pct_rank"),
            (rank.cast("double") / F.col("__n").cast("double")).alias(
                "price_cume_dist"
            ),
            F.when(rank >= 3, F.coalesce(F.col("__third_key"), F.lit(-1)))
            .otherwise(F.lit(-1))
            .alias("third_cheapest_key"),
        )
    )


@register(
    "regr_price_on_quantity",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS sx,
               sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
               sum(CAST(floor(l_quantity + 0.5) AS BIGINT)
                   * CAST(floor(l_quantity + 0.5) AS BIGINT)) AS sxx,
               sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS HUGEINT)
                   * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS syy,
               sum(CAST(floor(l_quantity + 0.5) AS BIGINT)
                   * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n AS n_rows,
           CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
             / 100.0 AS slope,
           (CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0))
             - (CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                / 100.0)
               * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS intercept,
           (CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
            * CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE))
             / (CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                * CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
             AS r2
    FROM s
    ORDER BY l_returnflag
    """,
)
def regr_price_on_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (G11 extension — DuckDB's regr_slope
    / regr_intercept / regr_r2 surface), bit-identical cross-engine:
    the native regr_* accumulators are order-dependent doubles, so like
    stats_corr_qty_price this computes the five moment sums in EXACT
    integer domains (quantity integral, price in cents; the
    price-squared sum runs as DECIMAL) and finishes the textbook
    formulas with one identical IEEE op sequence per group — slope in
    dollars per quantity unit, intercept as ybar - slope*xbar, r2 as
    cov²/(varx*vary). One shuffle (map-side partial moments)."""
    from ..functions.exact import cents

    li = load(spark, sf_dir, "lineitem")
    qx = cents("l_quantity", 0)
    py = cents("l_extendedprice", 2)
    d = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(qx).alias("sx"),
        F.sum(py).alias("sy"),
        F.sum(qx * qx).alias("sxx"),
        F.sum(d(py) * d(py)).alias("syy"),
        F.sum(qx * py).alias("sxy"),
    )
    n, sx, sy = d(F.col("n")), d(F.col("sx")), d(F.col("sy"))
    sxx, syy, sxy = d(F.col("sxx")), F.col("syy"), d(F.col("sxy"))
    cov = (n * sxy - sx * sy).cast("double")
    varx = (n * sxx - sx * sx).cast("double")
    vary = (n * syy - sy * sy).cast("double")
    slope = cov / varx / F.lit(100.0)
    xbar = F.col("sx").cast("double") / F.col("n").cast("double")
    ybar = F.col("sy").cast("double") / (F.col("n").cast("double") * F.lit(100.0))
    return (
        agg.select(
            "l_returnflag",
            F.col("n").alias("n_rows"),
            slope.alias("slope"),
            (ybar - slope * xbar).alias("intercept"),
            ((cov * cov) / (varx * vary)).alias("r2"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "stats_ols_probe",
    oracle="""
    WITH r AS (
        SELECT CAST(n_chars AS BIGINT)                                    AS x1,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS x2,
               CAST(len(string_split(text, ' ')) AS BIGINT)                AS y
        FROM documents
    ),
    m AS (
        SELECT CAST(count(*) AS HUGEINT)    AS n,
               CAST(sum(x1) AS HUGEINT)     AS s1,
               CAST(sum(x2) AS HUGEINT)     AS s2,
               CAST(sum(y) AS HUGEINT)      AS sy,
               CAST(sum(x1 * x1) AS HUGEINT) AS s11,
               CAST(sum(x1 * x2) AS HUGEINT) AS s12,
               CAST(sum(x2 * x2) AS HUGEINT) AS s22,
               CAST(sum(x1 * y) AS HUGEINT)  AS s1y,
               CAST(sum(x2 * y) AS HUGEINT)  AS s2y,
               CAST(sum(y * y) AS HUGEINT)   AS syy
        FROM r
    ),
    d AS (
        SELECT n, sy, s1y, s2y, syy,
               n  * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                  + s2 * (s1 * s12 - s11 * s2)                            AS det,
               sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
                  + s2 * (s1y * s12 - s11 * s2y)                          AS det0,
               n  * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
                  + s2 * (s1 * s2y - s1y * s2)                            AS det1,
               n  * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s1y * s2)
                  + sy * (s1 * s12 - s11 * s2)                            AS det2
        FROM m
    ),
    b AS (
        SELECT CAST(n AS BIGINT) AS n_docs,
               CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) AS b0,
               CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) AS b1,
               CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) AS b2,
               CAST(sy AS DOUBLE) AS syd, CAST(s1y AS DOUBLE) AS s1yd,
               CAST(s2y AS DOUBLE) AS s2yd, CAST(syy AS DOUBLE) AS syyd,
               CAST(n AS DOUBLE) AS nd
        FROM d
    )
    SELECT n_docs,
           round(b0, 6) AS intercept,
           round(b1, 6) AS coef_chars,
           round(b2, 6) AS coef_vocab,
           round(1 - (syyd - (b0 * syd + b1 * s1yd + b2 * s2yd))
                     / (syyd - (syd * syd) / nd), 6) AS r2
    FROM b
    """,
)
def stats_ols_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form multi-feature OLS trained IN-ENGINE (the linear-probe
    step of a data-quality pipeline: predict token count from n_chars
    and vocabulary size, report coefficients + R²) — the 3-unknown
    generalization of the G11 regr_* tier, solved by Cramer's rule over
    the normal-equations matrix.

    Cross-engine exactness: every moment is an exact integer sum
    (map-side combinable — ONE aggregation over the corpus is the whole
    training cost, the textbook distributed-OLS shape), and the 3×3
    determinants are evaluated in 38-digit integer arithmetic
    (decimal(38,0) here, HUGEINT in the oracle; the largest term is
    n·Σx²·Σx² ≈ 10²⁵ at sf0.1 — overflow would raise under ANSI, not
    truncate). Coefficients only then become doubles — identical
    integer→double roundings and one division per side — so both
    engines emit bit-identical statistics before the presentation
    round. R² recovers SSE from the moments (SSE = Σy² − bᵀXᵀy), no
    second data pass."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    r = docs.select(
        F.col("n_chars").cast("long").alias("x1"),
        F.size(F.array_distinct(toks)).cast("long").alias("x2"),
        F.size(toks).cast("long").alias("y"),
    )
    m = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )

    def big(name: str) -> F.Column:
        return F.col(name).cast("decimal(38,0)")

    n, s1, s2 = big("n"), big("s1"), big("s2")
    sy, s11, s12 = big("sy"), big("s11"), big("s12")
    s22, s1y, s2y = big("s22"), big("s1y"), big("s2y")
    d = m.select(
        F.col("n"),
        F.col("sy"),
        F.col("s1y"),
        F.col("s2y"),
        F.col("syy"),
        (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
         + s2 * (s1 * s12 - s11 * s2)).alias("det"),
        (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
         + s2 * (s1y * s12 - s11 * s2y)).alias("det0"),
        (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
         + s2 * (s1 * s2y - s1y * s2)).alias("det1"),
        (n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s1y * s2)
         + sy * (s1 * s12 - s11 * s2)).alias("det2"),
    )
    det_d = F.col("det").cast("double")
    b0 = F.col("det0").cast("double") / det_d
    b1 = F.col("det1").cast("double") / det_d
    b2 = F.col("det2").cast("double") / det_d
    syd, s1yd = F.col("sy").cast("double"), F.col("s1y").cast("double")
    s2yd, syyd = F.col("s2y").cast("double"), F.col("syy").cast("double")
    nd = F.col("n").cast("double")
    return d.select(
        F.col("n").cast("long").alias("n_docs"),
        F.round(b0, 6).alias("intercept"),
        F.round(b1, 6).alias("coef_chars"),
        F.round(b2, 6).alias("coef_vocab"),
        F.round(
            F.lit(1)
            - (syyd - (b0 * syd + b1 * s1yd + b2 * s2yd))
            / (syyd - (syd * syd) / nd),
            6,
        ).alias("r2"),
    )


@register("quality_logreg_weights")
def quality_logreg_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the corpus quality classifier (X8 model-in-pipeline tier):
    logistic regression by distributed IRLS over cheap per-document
    features, predicting the English-language label — the public
    curation recipe (CCNet / the GPT-3 LR-against-reference filter)
    where a small linear model scores documents and the pipeline
    filters on the score. Rows-only: the trainer is iterative (one
    k(k+1)/2-sum aggregate job per IRLS step, k x k numpy solve
    driver-side — operators/logreg.py has the scale argument);
    tests/test_operators.py pins the full coefficient vector against
    an independent numpy IRLS on the identical feature matrix, and
    pins training accuracy above the majority-class floor.

    Features are deterministic JVM expressions (token count, mean
    token length, distinct-token ratio, character count — scaled to
    O(1) ranges so IRLS is well-conditioned without a normalization
    pass)."""
    from ..operators.logreg import logistic_regression_irls, predict_proba
    from ..session import local_relation

    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    feats = docs.select(
        F.lit(1.0).alias("f_intercept"),
        (F.size(toks).cast("double") / F.lit(100.0)).alias("f_tokens"),
        (
            (F.length("text") - F.size(toks) + 1).cast("double")
            / F.size(toks).cast("double")
        ).alias("f_mean_tok_len"),
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double")
        ).alias("f_distinct_ratio"),
        (F.col("n_chars").cast("double") / F.lit(1000.0)).alias("f_kchars"),
        (F.col("lang") == "en").cast("double").alias("label"),
    )
    cols = ["f_intercept", "f_tokens", "f_mean_tok_len", "f_distinct_ratio", "f_kchars"]
    beta = logistic_regression_irls(feats, cols, "label")
    acc_row = feats.agg(
        F.avg(
            (
                (predict_proba(feats, cols, beta) >= 0.5).cast("double")
                == F.col("label")
            ).cast("double")
        )
    ).first()
    acc = float(acc_row[0])
    return local_relation(
        spark,
        [(c, float(b), acc) for c, b in zip(cols, beta)],
        "feature string, beta double, train_accuracy double",
    )


@register(
    "basket_part_affinity",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem
    ),
    pairs AS (
        SELECT a.pk AS part1, b.pk AS part2, count(*) AS n_orders
        FROM items a JOIN items b ON a.okey = b.okey AND a.pk < b.pk
        GROUP BY 1, 2
    ),
    m AS (SELECT pk, count(*) AS n FROM items GROUP BY pk),
    tot AS (SELECT count(DISTINCT l_orderkey) AS t FROM lineitem)
    SELECT p.part1, p.part2, p.n_orders,
           m1.n AS n_part1, m2.n AS n_part2,
           CAST(p.n_orders * tot.t AS DOUBLE)
               / CAST(m1.n * m2.n AS DOUBLE)  AS lift
    FROM pairs p
    JOIN m m1 ON p.part1 = m1.pk
    JOIN m m2 ON p.part2 = m2.pk
    CROSS JOIN tot
    ORDER BY p.n_orders DESC, p.part1, p.part2
    LIMIT 20
    """,
)
def basket_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket 2-itemset mining: top
    part pairs co-purchased in the same order, with marginal supports
    and lift — the frequent-itemset/affinity analysis tier (the
    2-itemset core of Apriori, which at this shape needs no candidate
    pruning).

    Scale shape (the sf1.0 rehearsal caught the first design): pair
    support comes from a DISTINCT-items self-equi-join on
    the ORDER key (shuffle-hash both sides — fanout is k^2 bounded by
    parts-per-order, never a part-dimension join) followed by one
    groupBy(p1, p2) with map-side partials; marginals and the order
    total are their own narrow legs (distinct-items groupBy(pk), one
    count-distinct scalar). The first shape computed all three relations
    from ONE tagged-union explode, betting on ReuseExchange to serve
    the three consumers — but Catalyst only reused the first
    (l_orderkey) exchange and re-ran the heavy explode + partial-agg
    subtree PER CONSUMER: invisible under sf0.1's job floor, 145 s at
    sf1.0 (measured; 6M lineitem). The self-join shape runs the heavy
    leg exactly once: 5.5-7 s at sf1.0, a 21-26x win, within ~2x of
    DuckDB's 3.1 s on the same files. The general lesson is pinned in
    SCALE.md §"multi-consumer subtrees": a shared DataFrame subtree is
    re-executed per consumer unless its reuse is exactly one exchange
    node — derive side relations from cheap independent legs instead.

    Lift is one IEEE division of exact integers (bit-identical
    cross-engine); the marginal/total join-backs are broadcasts of the
    20-row cut applied AFTER TakeOrderedAndProject (decorate 20 rows,
    not |pairs|, and never driver-materialize the |parts|-sized
    marginal relation); the cut carries a full
    deterministic tiebreak."""
    li = load(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = items.select("okey", F.col("pk").alias("part1"))
    b = items.select(F.col("okey").alias("okey2"), F.col("pk").alias("part2"))
    pairs = (
        a.hint("shuffle_hash")
        .join(b, (a.okey == b.okey2) & (F.col("part1") < F.col("part2")))
        .groupBy("part1", "part2")
        .agg(F.count("*").alias("n_orders"))
    )
    m = items.groupBy("pk").agg(F.count("*").alias("nm"))
    m1 = m.select(F.col("pk").alias("part1"), F.col("nm").alias("n_part1"))
    m2 = m.select(F.col("pk").alias("part2"), F.col("nm").alias("n_part2"))
    tot = li.agg(F.count_distinct("l_orderkey").alias("__t"))
    lift = (F.col("n_orders") * F.col("__t")).cast("double") / (
        F.col("n_part1") * F.col("n_part2")
    ).cast("double")
    top = pairs.orderBy(F.desc("n_orders"), "part1", "part2").limit(20)
    dec = F.broadcast(top).join(m1, "part1")
    return (
        F.broadcast(dec)
        .join(m2, "part2")
        .crossJoin(F.broadcast(tot))
        .select("part1", "part2", "n_orders", "n_part1", "n_part2", lift.alias("lift"))
        .orderBy(F.desc("n_orders"), "part1", "part2")
    )
