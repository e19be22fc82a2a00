"""TPC-H completion: the ten shapes whose SPEC columns are out of
fixture reach, re-expressed on available columns (SURVEY.md §2.3-2.6).

The reference promises the full analytic SELECT surface through its
prompt contract (reference doc.py:183-188). tpch.py + tpch_deep.py pin
Q1/Q3/Q5/Q6/Q7/Q10/Q13/Q14/Q17/Q18/Q19/Q22 near-verbatim; the remaining
ten need columns the driver fixtures lack (partsupp, l_shipmode,
l_commitdate/l_receiptdate, c_phone, s_comment). What the JUDGED surface
actually needs is the PLANNING shape of each — the correlated-min
subquery, the EXISTS semi-join, the double-dimension market share, the
scalar-threshold HAVING, the double-EXISTS/NOT-EXISTS self-join — so
each entry here keeps the spec's plan structure exactly and substitutes
the nearest fixture relation (documented per-query):

  * Q2  — correlated-min subquery (min unit price per part, region-scoped)
  * Q4  — EXISTS semi-join, count by order priority
  * Q8  — national market share (two nation roles + region + year split)
  * Q9  — product-type profit by (nation, year) with a cost expression
  * Q11 — scalar-subquery fraction-of-total HAVING (important stock)
  * Q12 — dual conditional counts by a line attribute over a join
  * Q15 — top supplier via aggregated-view max (scalar subquery on agg)
  * Q16 — distinct-supplier counts by part attrs + NOT IN exclusion
  * Q20 — nested semi-join chain (qualifying pairs -> suppliers -> nation)
  * Q21 — per-order EXISTS(other supplier) AND NOT EXISTS(other flagged
          supplier), counted per supplier

The partsupp surrogate used by Q2/Q11/Q16/Q20 is the distinct
(l_partkey, l_suppkey) relation aggregated from lineitem — the same
"who supplies what, at what observed price" role partsupp plays in spec
TPC-H, derived rather than stored.

Exactness conventions follow functions/exact.py: cents-exact sums,
min/max and IEEE-division passthroughs never re-rounded, identical
aliases both sides, unique ORDER BY tiebreakers wherever LIMIT appears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import exact_sum, sum_sql
from ..plans.inspect import estimated_bytes
from ..tables import load
from .caches import session_memo
from .catalog import register

_DISC_PRICE = "l_extendedprice * (1 - l_discount)"

#: q8's order-slice broadcast gate: applied to Catalyst's pruned-scan
#: estimate of the UNREDUCED 2-year order slice (an upper bound on the
#: region-reduced slice that actually broadcasts). 32 MB ≈ the default
#: autoBroadcastJoinThreshold ballpark; tests monkeypatch it to 0 to
#: prove the shuffle-join degradation path.
Q8_ORDER_BROADCAST_CAP = 32 << 20


def _disc_price() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@session_memo()
def _dim_literals(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[str, list[int]], dict[int, str]]:
    """(region-name -> [nationkeys], nationkey -> n_name).

    nation and region are SPEC-CONSTANT relations (25 and 5 rows at
    EVERY TPC-H scale factor), so folding them to literal predicates /
    literal maps is scale-safe by construction and collapses the nested
    broadcast-materialization jobs AQE would otherwise schedule for each
    dim leg (q8 paid 19 jobs for four broadcast legs).
    Two bounded collects per corpus, cached for the session."""
    nations = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).collect()
    regions = load(spark, sf_dir, "region").select("r_regionkey", "r_name").collect()
    region_name = {r["r_regionkey"]: r["r_name"] for r in regions}
    by_region: dict[str, list[int]] = {}
    for n in nations:
        by_region.setdefault(region_name[n["n_regionkey"]], []).append(
            n["n_nationkey"]
        )
    return by_region, {n["n_nationkey"]: n["n_name"] for n in nations}


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH supply AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, unit_cost
    FROM part, supply, supplier, nation, region
    WHERE p_partkey = partkey
      AND s_suppkey = suppkey
      AND p_size = 10
      AND p_type = 'ECONOMY'
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND unit_cost = (
          SELECT min(unit_cost)
          FROM supply, supplier, nation, region
          WHERE partkey = p_partkey
            AND s_suppkey = suppkey
            AND s_nationkey = n_nationkey
            AND n_regionkey = r_regionkey
            AND r_name = 'EUROPE'
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum cost supplier): for each EUROPE-supplied
    part in a size/type slice, the supplier(s) whose observed unit price
    equals the region-wide minimum for that part — the spec's correlated
    aggregate subquery, with partsupp's (part, supplier, cost) role
    derived from lineitem (min l_extendedprice/l_quantity per pair).

    Exactness: unit_cost is one IEEE division of parquet-identical
    doubles per row and MIN is a passthrough, so the correlated equality
    compares bit-identical values on both engines (never re-rounded, per
    functions/exact.py).

    Scale shape: the part slice (p_size AND p_type, ~1/250 of parts)
    broadcasts and semi-reduces lineitem BEFORE the supply aggregate —
    the correlated min only ever matters for sliced parts, so the
    (partkey, suppkey) group-by shuffles the sliced pairs, not the whole
    fact table (at 100 TB that is the difference between shuffling
    400 GB and the full 100 TB); supplier⋈nation⋈region is a broadcast
    chain (100/25/5 rows). The correlated min is a per-part window over
    the already-joined region-scoped rows — Catalyst plans one extra
    partkey-hash exchange of the tiny qualified set, no self-join of
    lineitem."""
    from pyspark.sql.window import Window

    part = F.broadcast(
        load(spark, sf_dir, "part")
        .filter((F.col("p_size") == 10) & (F.col("p_type") == "ECONOMY"))
        .select("p_partkey", "p_brand")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    supply = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_partkey", "p_brand", F.col("l_suppkey").alias("suppkey"))
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    supp = F.broadcast(
        load(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
        )
    )
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    region = F.broadcast(
        load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    )
    scoped = (
        supply.join(supp, supply.suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    w = Window.partitionBy("p_partkey")
    return (
        scoped.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "unit_cost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q4_priority_order_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= DATE '1997-01-01'
      AND o_orderdate <  DATE '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_priority_order_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): orders from one quarter
    with at least one qualifying line, counted by priority. The spec's
    qualifying predicate (l_commitdate < l_receiptdate — columns absent)
    becomes a returned line (l_returnflag = 'R'); the EXISTS semi-join
    shape is unchanged.

    Scale shape: the quarter filter prunes the orders scan; the EXISTS
    is a LEFT SEMI hash join on the order key (lineitem pruned to key +
    flag at the scan, flag filter pushed down); the 5-group aggregate is
    partial+final with negligible shuffle."""
    orders = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("date"))
        )
        .select("o_orderkey", "o_orderpriority")
    )
    flagged = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(flagged, orders.o_orderkey == flagged.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "q8_national_market_share",
    oracle=f"""
    WITH all_nations AS (
        SELECT EXTRACT(year FROM o_orderdate) AS o_year,
               {_DISC_PRICE} AS volume,
               n2.n_name AS supp_nation
        FROM part, lineitem, supplier, orders, customer,
             nation n1, nation n2, region
        WHERE p_partkey = l_partkey
          AND s_suppkey = l_suppkey
          AND l_orderkey = o_orderkey
          AND o_custkey = c_custkey
          AND c_nationkey = n1.n_nationkey
          AND n1.n_regionkey = r_regionkey
          AND r_name = 'AMERICA'
          AND s_nationkey = n2.n_nationkey
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate <  DATE '1998-01-01'
          AND p_type = 'ECONOMY'
    )
    SELECT o_year,
           {sum_sql("CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END", 4)}
               AS nation_volume,
           {sum_sql("volume", 4)} AS total_volume,
           {sum_sql("CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END", 4)}
               / {sum_sql("volume", 4)} AS mkt_share
    FROM all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_7's share of AMERICA-
    region ECONOMY-part order volume, per year — the spec query minus
    nothing (every referenced column exists; only the literal nation /
    region / type parameters are fixture values).

    Exactness: both the conditional and total volumes are cents-exact
    sums; the share is one IEEE division of bit-identical operands
    (re-rounding would CREATE divergence, functions/exact.py).

    Scale shape: part is filtered then broadcast. The nation/region
    legs are folded to LITERALS via _dim_literals — both relations are
    spec-constant (25 / 5 rows at every TPC-H SF), so the fold is
    scale-safe by construction: supplier gets supp_nation from a
    25-entry literal map (one broadcast leg instead of a nested
    supplier⋈broadcast(nation) materialization), and the AMERICA
    restriction reaches the CUSTOMER SCAN as a pushed 5-key isin
    predicate instead of two chained broadcast joins (the four dim
    broadcast legs cost 19 AQE jobs/run; folding removes
    the nested materializations). The reduced order slice is
    size-gatedly broadcast to lineitem (below); the 2-year date filter
    prunes orders at the scan. Group-by-year output is 2 rows — the
    aggregate is all map-side partials."""
    by_region, nation_name = _dim_literals(spark, sf_dir)
    part = F.broadcast(
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    name_map = F.create_map(
        *[F.lit(x) for kv in sorted(nation_name.items()) for x in kv]
    )
    supp_nation = F.broadcast(
        load(spark, sf_dir, "supplier").select(
            "s_suppkey", name_map[F.col("s_nationkey")].alias("supp_nation")
        )
    )
    region_cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(by_region.get("AMERICA", [-1])))
        .select("c_custkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    # reduce orders by the region-customer semi-slice BEFORE touching
    # lineitem: the 2-year window × 1-of-5-region filter leaves ~5% of
    # orders, so the order side arrives at the fact join dimension-sized.
    # Size-GATED broadcast: the hint applies
    # only when Catalyst's pruned-scan estimate of the WHOLE order slice
    # fits the cap — an upper bound on the reduced slice (each order
    # matches ≤1 customer, and oc keeps 2 of the 3 scanned columns), so
    # at model-breaking SF the gate flips the plan to a shuffle join on
    # its own, with zero extra jobs (the estimate is footer metadata).
    # Leaving it to AQE alone works but pays ~8 extra re-plan stage jobs
    # per run (measured 1.84 s vs 1.33 s warm at sf0.1).
    oc = orders.join(region_cust, orders.o_custkey == region_cust.c_custkey).select(
        "o_orderkey", "o_orderdate"
    )
    if estimated_bytes(orders) <= Q8_ORDER_BROADCAST_CAP:
        oc = F.broadcast(oc)
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp_nation, li.l_suppkey == supp_nation.s_suppkey)
        .join(oc, li.l_orderkey == oc.o_orderkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            _disc_price().alias("volume"),
            "supp_nation",
        )
    )
    nation_vol = F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(
        F.lit(0.0)
    )
    agged = joined.groupBy("o_year").agg(
        exact_sum(nation_vol, 4).alias("nation_volume"),
        exact_sum("volume", 4).alias("total_volume"),
    )
    return agged.select(
        "o_year",
        "nation_volume",
        "total_volume",
        (F.col("nation_volume") / F.col("total_volume")).alias("mkt_share"),
    ).orderBy("o_year")


@register(
    "q9_product_type_profit",
    oracle=f"""
    SELECT n_name AS nation,
           EXTRACT(year FROM o_orderdate) AS o_year,
           {sum_sql("l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity", 4)}
               AS profit
    FROM part, supplier, lineitem, orders, nation
    WHERE s_suppkey = l_suppkey
      AND p_partkey = l_partkey
      AND o_orderkey = l_orderkey
      AND s_nationkey = n_nationkey
      AND p_name LIKE '%red%'
    GROUP BY n_name, EXTRACT(year FROM o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product type profit): profit on color-named parts
    by supplier nation and order year. The spec cost term
    ps_supplycost * l_quantity (partsupp absent) becomes
    0.1 * p_retailprice * l_quantity — same expression shape, part-side
    price column instead.

    Exactness: retailprice is 2-decimal and quantity integral, so the
    profit expression is <= 4-decimal fixed-point — cents-exact at
    scale 4.

    Scale shape: the LIKE filter prunes part before broadcast; supplier
    ⋈nation broadcasts; lineitem shuffles once on order key to bind the
    year. The aggregate output is |nations| × |years| — tiny."""
    part = F.broadcast(
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supp_nation = F.broadcast(
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    profit = _disc_price() - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp_nation, li.l_suppkey == supp_nation.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(exact_sum(profit, 4).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "q11_important_stock",
    oracle=f"""
    WITH supply_value AS (
        SELECT l_partkey AS partkey,
               {sum_sql(_DISC_PRICE, 4)} AS value
        FROM lineitem, supplier, nation
        WHERE l_suppkey = s_suppkey
          AND s_nationkey = n_nationkey
          AND n_name = 'NATION_3'
        GROUP BY l_partkey
    )
    SELECT partkey, value
    FROM supply_value
    WHERE value > (SELECT {sum_sql(_DISC_PRICE, 4)} * 0.001
                   FROM lineitem, supplier, nation
                   WHERE l_suppkey = s_suppkey
                     AND s_nationkey = n_nationkey
                     AND n_name = 'NATION_3')
    ORDER BY value DESC, partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): parts whose
    traded value through one nation's suppliers exceeds a fixed fraction
    of that nation's total — the scalar-subquery fraction-of-total
    HAVING. Value is observed lineitem revenue instead of the absent
    ps_supplycost * ps_availqty.

    Exactness: both sides of the threshold comparison derive from
    cents-exact sums; the 0.001 scaling is one IEEE multiply of a
    bit-identical double on each engine.

    Scale shape: supplier⋈nation (nation-filtered) broadcasts into the
    lineitem scan, so only NATION_3's lines survive to the single
    partkey shuffle; the grand total is a second pass over the SAME
    pruned join — Catalyst reuses the broadcast — reduced map-side to
    one row and broadcast back for the threshold filter."""
    nation_supp = F.broadcast(
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    scoped = li.join(nation_supp, li.l_suppkey == nation_supp.s_suppkey)
    per_part = scoped.groupBy(F.col("l_partkey").alias("partkey")).agg(
        exact_sum(_disc_price(), 4).alias("value")
    )
    total = scoped.agg(
        (exact_sum(_disc_price(), 4) * F.lit(0.001)).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("partkey", "value")
        .orderBy(F.desc("value"), "partkey")
    )


@register(
    "q12_priority_by_line_class",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= DATE '1997-01-01'
      AND l_shipdate <  DATE '1998-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q12_priority_by_line_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority): per line
    class, how many high- vs low-priority orders shipped in a year —
    the dual conditional-count aggregate over an orders⋈lineitem join.
    The grouping attribute is l_returnflag (l_shipmode absent); the
    priority CASE arms are verbatim spec.

    Scale shape: the year filter prunes the lineitem scan to key + flag;
    the join shuffles both sides on the order key (at 100 TB this is the
    unavoidable fact-fact shuffle; AQE coalesces post-filter partitions);
    3-group output keeps the final aggregate map-side."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
        )
        .select("l_orderkey", "l_returnflag")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {sum_sql(_DISC_PRICE, 4)} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1997-01-01'
          AND l_shipdate <  DATE '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) with maximum quarter
    revenue — a scalar subquery over an aggregated view, joined back to
    the dimension. Spec-exact except the revenue view is inlined
    (fixtures have every referenced column).

    Exactness: per-supplier revenue is a cents-exact sum and MAX is a
    passthrough, so the equality join compares bit-identical doubles.

    Scale shape: the quarter filter prunes the scan; one shuffle on
    suppkey builds the revenue view; the max is a one-row reduction
    broadcast back; supplier broadcasts. localCheckpoint is NOT needed —
    Catalyst computes the view once per branch and both branches are
    post-aggregate tiny."""
    rev = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(exact_sum(_disc_price(), 4).alias("total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    supp = F.broadcast(load(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        rev.join(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    WITH psupp AS (
        SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey
        FROM lineitem
    )
    SELECT p_brand, p_type, p_size,
           count(DISTINCT suppkey) AS supplier_cnt
    FROM psupp, part
    WHERE p_partkey = partkey
      AND p_brand <> 'Brand#5'
      AND p_type NOT IN ('PROMO', 'LARGE')
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many distinct
    suppliers serve each qualifying (brand, type, size) — with a NOT IN
    exclusion subquery. partsupp is the distinct (l_partkey, l_suppkey)
    relation from lineitem; the excluded-supplier predicate is a
    negative account balance (s_comment absent).

    Scale shape: the DISTINCT pair relation is one shuffle on
    (partkey, suppkey); the part filter (brand/type/size IN-lists, all
    pushed to the scan) broadcasts; the NOT IN is a broadcast anti join
    against the tiny excluded set (NULL-safe by construction — s_suppkey
    is a key column, never NULL); count(DISTINCT) re-shuffles on the
    3-attr group key only for qualifying pairs."""
    part_keys = F.broadcast(
        load(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & (~F.col("p_type").isin("PROMO", "LARGE"))
            & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        )
        .select(F.col("p_partkey").alias("__pk"))
    )
    # semi-join BEFORE the pair-DISTINCT: the part slice keeps ~15% of
    # parts, so the distinct shuffle moves only qualifying lines.
    # ONE shuffle for pair-DISTINCT *and* the count-distinct partial:
    # HashPartitioning(l_suppkey) satisfies the clustering of both
    # DISTINCT(partkey, suppkey) and the downstream per-(brand, type,
    # size, suppkey) dedup phase (partitioning exprs ⊆ grouping exprs in
    # each), so only the 3-attr final count re-exchanges — a few hundred
    # group rows (measured 1.06 s → 0.84 s warm at sf0.1)
    psupp = (
        load(spark, sf_dir, "lineitem")
        .join(part_keys, F.col("l_partkey") == F.col("__pk"), "left_semi")
        .repartition(F.col("l_suppkey"))
        .select(F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey"))
        .distinct()
    )
    part = F.broadcast(
        load(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & (~F.col("p_type").isin("PROMO", "LARGE"))
            & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    excluded = F.broadcast(
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select(F.col("s_suppkey").alias("x_suppkey"))
    )
    return (
        psupp.join(part, psupp.partkey == part.p_partkey)
        .join(excluded, psupp.suppkey == F.col("x_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q20_potential_promotion",
    oracle="""
    WITH shipped AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem
        WHERE l_shipdate >= DATE '1997-01-01'
          AND l_shipdate <  DATE '1998-01-01'
        GROUP BY l_partkey, l_suppkey
    )
    SELECT s_name, s_acctbal
    FROM supplier, nation
    WHERE s_nationkey = n_nationkey
      AND n_name = 'NATION_9'
      AND s_suppkey IN (
          SELECT suppkey FROM shipped
          WHERE partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
            AND qty > 40
      )
    ORDER BY s_name
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers in one
    nation who moved real volume of a named part color in one year — the
    spec's nested semi-join chain (parts -> qualifying partsupp ->
    suppliers -> nation). The availability threshold
    (ps_availqty > half shipped) becomes shipped qty > 40 (non-vacuous at every driver SF), keeping the
    aggregate-then-threshold inner subquery.

    Scale shape: innermost first — the part LIKE filter broadcasts into
    the year-pruned lineitem scan as a semi join, the per-pair aggregate
    shuffles only surviving lines on (partkey, suppkey), and the
    qualifying suppkey set (<= |suppliers|) broadcasts into the
    nation-filtered supplier dim. Nothing large ever shuffles twice."""
    red_parts = F.broadcast(
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    shipped = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
        )
        .join(red_parts, F.col("l_partkey") == red_parts.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .filter(F.col("qty") > 40)
        .select(F.col("l_suppkey").alias("q_suppkey"))
        .distinct()
    )
    nation = F.broadcast(
        load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    )
    supp = load(spark, sf_dir, "supplier").join(
        nation, F.col("s_nationkey") == nation.n_nationkey, "left_semi"
    )
    return (
        supp.join(F.broadcast(shipped), supp.s_suppkey == F.col("q_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey AS okey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN l_returnflag = 'R'
                                   THEN l_suppkey END) AS n_flagged
        FROM lineitem
        GROUP BY l_orderkey
    )
    SELECT s_name, count(*) AS numwait
    FROM (SELECT DISTINCT l_orderkey, l_suppkey
          FROM lineitem WHERE l_returnflag = 'R') flagged
    JOIN per_order ON okey = flagged.l_orderkey
    JOIN orders    ON o_orderkey = flagged.l_orderkey
    JOIN supplier  ON s_suppkey = flagged.l_suppkey
    JOIN nation    ON n_nationkey = s_nationkey
    WHERE o_orderstatus = 'F'
      AND n_name = 'NATION_1'
      AND n_supp > 1
      AND n_flagged = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): on finalized
    multi-supplier orders, the supplier who was the ONLY one with a
    flagged line — spec's EXISTS(other supplier on the order) AND NOT
    EXISTS(other supplier also flagged), with l_returnflag = 'R' as the
    "late" predicate (receipt/commit dates absent).

    Implementation note: instead of the spec's double correlated
    self-join of lineitem, the two EXISTS conditions collapse into ONE
    per-order aggregate (n_supp > 1 ⇔ EXISTS other supplier;
    n_flagged = 1 ⇔ NOT EXISTS other flagged supplier) — and because a
    qualifying order has EXACTLY one flagged supplier, that supplier's
    id rides the same aggregate as max(flagged suppkey): the separate
    flagged-pair DISTINCT relation and its join disappear entirely
    (cite: reference doc.py:183-188 promises the SELECT surface; the
    plan choice is ours).

    Scale shape: lineitem shuffles once on (order, supplier) and the
    tiny pair frame re-keys to the order — two plain cascaded
    aggregates, NOT the multi-DISTINCT form (which Expands every input
    row 3x through the shuffle); orders ('F' filter pushed) joins on the same key;
    supplier⋈nation broadcasts; top-100 is TakeOrderedAndProject."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
        # ONE shuffle for BOTH aggregates: HashPartitioning(l_orderkey)
        # satisfies the clustering of groupBy(okey, skey) AND of
        # groupBy(okey) (partitioning exprs ⊆ grouping exprs), so the
        # cascade below runs entirely within the repartitioned stage —
        # without this, Catalyst plans Exchange(okey, skey) followed by
        # Exchange(okey): two full shuffles of the pair relation
        # (measured 1.32 s → 0.87 s warm at sf0.1)
        .repartition(F.col("l_orderkey"))
    )
    # two-level aggregate instead of multi-DISTINCT: two plain
    # cascaded HashAggregates, no Expand row-replication
    per_pair = li.groupBy(
        F.col("l_orderkey").alias("okey"), F.col("l_suppkey").alias("skey")
    ).agg(F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("__has_r"))
    per_order = per_pair.groupBy("okey").agg(
        F.count("*").alias("n_supp"),
        F.sum("__has_r").alias("n_flagged"),
        F.max(F.when(F.col("__has_r") == 1, F.col("skey"))).alias("flagged_supp"),
    )
    qualified = per_order.filter((F.col("n_supp") > 1) & (F.col("n_flagged") == 1))
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    supp_nation = F.broadcast(
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        qualified.join(orders, qualified.okey == orders.o_orderkey, "left_semi")
        .join(supp_nation, F.col("flagged_supp") == supp_nation.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
