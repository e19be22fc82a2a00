"""Catalog extras: exact percentiles (G10), the approximate-aggregate
family (rows-only — approximation is engine-specific by definition),
Arrow-vectorized UDF execution (X2), interval/range join (J5), and
map-typed JSON functions (F5)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import exact_sum, sum_sql
from ..functions.udf import register_engine_udfs
from .. import tables
from ..tables import load, register_views
from .caches import make_tempdir, session_memo
from .catalog import register


@register(
    "percentiles_quantity",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.50) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def percentiles_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group (sort-based, shuffle on the
    group key; for the approximate scale path see approx_stats)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.25)).alias("p25"),
            F.percentile("l_quantity", F.lit(0.50)).alias("p50"),
            F.percentile("l_quantity", F.lit(0.75)).alias("p75"),
        )
        .orderBy("l_returnflag")
    )


@register("approx_stats", oracle=None)
def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregate family (G10): HyperLogLog distinct + t-digest
    percentiles. Rows-only: sketches are engine-specific by definition —
    the exact counterparts (distinct_counts, percentiles_quantity) are
    the oracle-checked ground truth. The percentile array is projected
    into scalar p50/p95 columns so the result is flat (harness
    canonicalizers can't hash list-typed cells)."""
    orders = load(spark, sf_dir, "orders")
    q = F.percentile_approx("o_totalprice", F.lit([0.5, 0.95]), F.lit(10000))
    return orders.agg(
        F.approx_count_distinct("o_custkey").alias("approx_customers"),
        F.approx_count_distinct("o_orderkey").alias("approx_orders"),
        q.getItem(0).alias("price_p50"),
        q.getItem(1).alias("price_p95"),
    )


@register(
    "pandas_udf_token_count",
    oracle="""
    SELECT lang,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           count(*)                                          AS n_docs
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def pandas_udf_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting THROUGH a registered Arrow-vectorized pandas UDF
    (X2): the SQL string calls ``tok_count`` like any built-in. The
    equivalent pure-JVM expression exists in text_token_stats; this entry
    proves the Python-UDF execution path against the same oracle."""
    register_engine_udfs(spark)
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        """
        SELECT lang,
               sum(tok_count(text)) AS total_tokens,
               count(*)             AS n_docs
        FROM documents
        GROUP BY lang
        ORDER BY lang
        """
    )


@register(
    "range_join_recent_activity",
    oracle="""
    SELECT e.event_id AS error_event_id,
           e.user_id,
           count(a.event_id) AS n_recent
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    LEFT JOIN events a
      ON a.user_id = e.user_id
     AND a.event_id <> e.event_id
     AND a.ts <= e.ts
     AND a.ts >= e.ts - INTERVAL 5 MINUTE
    GROUP BY e.event_id, e.user_id
    """,
)
def range_join_recent_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join (J5): per error event, how many events the same
    user produced in the preceding 5 minutes.

    The self-range-join special case
    where probe and build are the SAME relation collapses to a sliding
    RANGE-frame window — count(*) over (partition by user_id order by
    unix_micros(ts) range [-300s, 0]) minus 1 for the error row itself
    (``a_id <> e_id`` excludes exactly that row; equal-ts neighbors stay
    in, matching RANGE-frame semantics). One scan, ONE shuffle (by
    user_id) + one sort instead of the old plan's two shuffled join
    inputs + join + re-shuffled aggregate, and Spark's range frame is
    the two-pointer incremental count, so per-user cost is O(history),
    never O(history x errors) — the old user-id-only equi-join fanned
    every error against the user's whole history (9.6x vs DuckDB's
    IEJoin at sf1.0; measured decomposition: 3 exchanges ~2.0 s noop
    vs 0.9 s for this shape, and a bucketized (user, 5-min-bucket)
    equi-join landed between at 1.4 s — three plans, same oracle hash).
    At 100 TB the shuffle is keyed by user; a pathological mega-user
    serializes its own sort only — the standard per-entity window
    shape. The general two-relation range join (different probe/build)
    still wants the bucketized equi-join; events_asof_purchase_click
    covers that shape.
    """
    events = load(spark, sf_dir, "events")
    frame_us = 300 * 1_000_000  # 5 minutes, in the order key's unit
    w = Window.partitionBy("user_id").orderBy("__us").rangeBetween(-frame_us, 0)
    # Narrower types: the user-keyed exchange used to
    # carry the raw timestamp AND the event_type string only for the
    # post-window equality filter — fold them map-side into the 8-byte
    # order key and a 1-byte error flag (~40% fewer shuffle bytes/row on
    # a 4-column relation; result proven row-identical at sf1.0).
    return (
        events.select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("__us"),
            (F.col("event_type") == "error").alias("__err"),
        )
        .withColumn("__cnt", F.count("*").over(w))
        .filter(F.col("__err"))
        .select(
            F.col("event_id").alias("error_event_id"),
            "user_id",
            (F.col("__cnt") - F.lit(1)).alias("n_recent"),
        )
    )


@register(
    "props_map_functions",
    oracle="""
    SELECT 'k' AS prop_key,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_val
    FROM events
    """,
)
def props_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed JSON functions (F5): parse props into map<string,bigint>,
    explode to key/value rows, aggregate per key — the generic pipeline
    for heterogeneous JSON payloads (the fixture has one key; the plan
    shape is key-count-agnostic).

    The per-row from_json parse is CPU-dense, so the props projection is
    widened past I/O-sized splits first (the stage-width class,
    session.widen_narrow_scan — the sf1.0 events file is one split, so
    the parse ran on 1 of 32 cores; conditional, inert on a many-split
    scan). Measured sf1.0: 3.0 s -> 1.2 s (residual is fresh-session job floor)."""
    from ..session import widen_narrow_scan

    events = widen_narrow_scan(load(spark, sf_dir, "events").select("props"))
    kv = events.select(
        F.explode(F.from_json("props", "map<string,bigint>")).alias("prop_key", "val")
    )
    return kv.groupBy("prop_key").agg(
        F.count("*").alias("n"), F.sum("val").alias("total_val")
    )


@register(
    "sampled_lineitem_stats",
    oracle="""
    SELECT l_returnflag,
           count(*)                          AS n_sampled,
           CAST(sum(l_quantity) AS DOUBLE)   AS sum_qty
    FROM lineitem
    WHERE substr(md5(l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR), 1, 2) < '04'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def sampled_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-gated sampling, ~1.56% (4/256), per-flag
    counts. A seeded ``df.sample()`` would be rows-only — sampling RNGs
    are engine-specific —
    and, worse for the 100 TB story, Spark's seeded Bernoulli sample is
    PARTITION-DEPENDENT: the same seed draws a different row set when
    the input split count changes (compaction, AQE, a different reader),
    so a pipeline can't reproduce its own subsample across runs. The
    production-grade technique is a content-hash gate —
    ``md5(stable_key) < threshold`` — which is reproducible under any
    partitioning, any engine, and any retry, and is exactly what this
    entry now does (md5 is bit-identical across Spark and DuckDB, so
    the entry graduates from rows-only to hash-matched oracle). Scan +
    map-side filter + one small groupBy: the sample never materializes."""
    li = load(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "_", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    return (
        li.filter(F.substring(F.md5(key), 1, 2) < "04")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "grouped_zscore_pandas",
    oracle="""
    SELECT doc_id,
           lang,
           round((n_chars - avg(n_chars) OVER (PARTITION BY lang))
                 / stddev_samp(n_chars) OVER (PARTITION BY lang), 4) AS chars_zscore
    FROM documents
    """,
)
def grouped_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas UDF (X2, the UDTF-like shape): per-language
    z-score normalization computed inside applyInPandas — one pandas
    frame per group, Arrow both ways. Oracle: the equivalent window
    formulation (avg/stddev_samp OVER lang; pandas .std() is ddof=1 =
    stddev_samp). The window form is what you'd use when built-ins
    suffice; the grouped-map form is for logic they can't express."""
    import pandas as pd

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["n_chars"].astype("float64")
        z = (x - x.mean()) / x.std()
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "lang": pdf["lang"], "chars_zscore": z.round(4)}
        )

    return docs.groupBy("lang").applyInPandas(
        normalize, "doc_id bigint, lang string, chars_zscore double"
    )


@register(
    "full_outer_nation_parties",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_customers FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers FROM supplier GROUP BY 1)
    SELECT coalesce(c.nk, s.nk)        AS nationkey,
           coalesce(c.n_customers, 0)  AS n_customers,
           coalesce(s.n_suppliers, 0)  AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    ORDER BY nationkey
    """,
)
def full_outer_nation_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (completes the J3 join-type surface): per-nation
    customer and supplier counts, nations missing from either side kept."""
    c = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return (
        c.join(s, c.c_nk == s.s_nk, "full_outer")
        .select(
            F.coalesce("c_nk", "s_nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


@register(
    "scd2_customer_price_history",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_totalprice, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rf,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rl
        FROM orders
    ),
    f AS (SELECT o_custkey, o_totalprice AS price, o_orderdate AS d
          FROM ranked WHERE rf = 1),
    l AS (SELECT o_custkey, o_totalprice AS price, o_orderdate AS d
          FROM ranked WHERE rl = 1),
    changed AS (
        SELECT f.o_custkey, f.price AS fp, f.d AS fd, l.price AS lp, l.d AS ld
        FROM f JOIN l USING (o_custkey) WHERE l.d > f.d
    )
    SELECT o_custkey AS custkey, fp AS totalprice,
           fd AS valid_from, ld AS valid_to, FALSE AS is_current
    FROM changed
    UNION ALL
    SELECT o_custkey, lp, ld, CAST(NULL AS DATE), TRUE FROM changed
    UNION ALL
    SELECT f.o_custkey, f.price, f.d, CAST(NULL AS DATE), TRUE
    FROM f JOIN l USING (o_custkey) WHERE l.d = f.d
    """,
)
def scd2_customer_price_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2/CDC fold (operators/cdc.py apply_scd2_changes): snapshot =
    each customer's FIRST order as the open dimension version; change
    batch = the latest order of every customer whose latest is strictly
    later. One batch application closes the old version (valid_to =
    change date) and opens the new current one. Oracle: the same
    before/after relation written directly with window functions."""
    from ..operators.cdc import apply_scd2_changes

    orders = load(spark, sf_dir, "orders")
    order_key = F.struct("o_orderdate", "o_orderkey")
    # first AND last order per customer in a single aggregation pass
    # (one scan + one shuffle; the two-window formulation costs a scan
    # and an exchange PER reference). localCheckpoint because snapshot
    # and changes both derive from it — in a real pipeline these arrive
    # as materialized tables anyway.
    bounds = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.min_by(F.struct("o_totalprice", "o_orderdate"), order_key).alias("f"),
            F.max_by(F.struct("o_totalprice", "o_orderdate"), order_key).alias("l"),
        )
        .select(
            "custkey",
            F.col("f.o_totalprice").alias("first_price"),
            F.col("f.o_orderdate").alias("first_d"),
            F.col("l.o_totalprice").alias("last_price"),
            F.col("l.o_orderdate").alias("last_d"),
        )
        .localCheckpoint()
    )
    snapshot = bounds.select(
        "custkey",
        F.col("first_price").alias("totalprice"),
        F.col("first_d").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = bounds.filter(F.col("last_d") > F.col("first_d")).select(
        "custkey",
        F.col("last_price").alias("totalprice"),
        F.col("last_d").alias("change_ts"),
    )
    # the batch here is ~one row per customer — a bulk fold, not a CDC
    # tick — so shuffle on the key instead of broadcasting the batch
    return apply_scd2_changes(snapshot, changes, key="custkey", broadcast_changes=False)


@session_memo()
def _orders_by_year_dir(spark: SparkSession, sf_dir: str) -> str:
    from ..sources.sinks import write_partitioned

    path = make_tempdir("orders_by_year_")
    orders = load(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("long")
    )
    write_partitioned(orders, path, "order_year")
    return path


@register(
    "sink_partitioned_roundtrip",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           count(*)                          AS n_orders
    FROM orders
    WHERE year(o_orderdate) >= 1999
    GROUP BY 1
    ORDER BY 1
    """,
)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable partitioned sink proven end-to-end (K1 durable variant):
    orders written partitioned by year, read back through a partition
    filter, accounted per year. The read plans PartitionFilters — whole
    year directories are skipped at the scan, which is what the layout
    buys at 100 TB (the plan gate lives in tests/test_scale_features).
    The oracle recomputes the accounting straight from the source table,
    proving the write→prune→read path loses and duplicates nothing."""
    back = spark.read.parquet(_orders_by_year_dir(spark, sf_dir)).filter(
        F.col("order_year") >= 1999
    )
    return (
        back.groupBy("order_year")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("order_year")
    )


@session_memo()
def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(orders, customer) saved as managed tables bucketed 8-ways on the
    customer key, once per (session, corpus)."""
    import shutil
    from urllib.parse import urlparse

    from ..sources.sinks import write_bucketed

    tag = "".join(ch if ch.isalnum() else "_" for ch in sf_dir)
    t_orders, t_cust = f"b_orders{tag}", f"b_customer{tag}"
    # a previous PROCESS may have left the managed-table directory in
    # the warehouse while this session's catalog has no entry for it
    # — saveAsTable then fails with LOCATION_ALREADY_EXISTS, so clear
    # both the catalog entry and the leftover location first
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    for t in (t_orders, t_cust):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        leftover = os.path.join(warehouse, t.lower())
        if warehouse and os.path.isdir(leftover):
            shutil.rmtree(leftover, ignore_errors=True)
    write_bucketed(
        load(spark, sf_dir, "orders").select("o_custkey"), t_orders, "o_custkey"
    )
    write_bucketed(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        t_cust,
        "c_custkey",
    )
    return t_orders, t_cust


@register(
    "sink_bucketed_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    ORDER BY 1
    """,
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join proven end-to-end (K1 durable variant):
    orders and customer saved as managed tables bucketed 8-ways on the
    customer key, then joined WITHOUT an Exchange on either side (the
    zero-shuffle plan gate lives in tests/test_scale_features) — the
    100 TB answer to re-shuffling two facts every nightly join. The
    oracle joins the raw source tables directly, proving bucket routing
    assigned every row correctly."""
    t_orders, t_cust = _bucketed_tables(spark, sf_dir)
    orders = spark.table(t_orders)
    cust = spark.table(t_cust)
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("c_mktsegment")
    )


@session_memo()
def _lineitem_orc_dir(spark: SparkSession, sf_dir: str) -> str:
    from ..sources.sinks import write_orc

    path = make_tempdir("lineitem_orc_")
    write_orc(
        load(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        ),
        path,
    )
    return path


@register(
    "sink_orc_roundtrip",
    oracle=f"""
    SELECT l_returnflag,
           count(*)                            AS n_lines,
           {sum_sql("l_extendedprice", 2)}     AS total_price
    FROM lineitem
    WHERE l_quantity >= 25
    GROUP BY 1
    ORDER BY 1
    """,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source proven end-to-end (K1 durable variant, second
    native columnar format): lineitem written to ORC once per corpus,
    read back through a pushed-down predicate, aggregated with the
    exact-decimal scheme. The oracle recomputes from the parquet source
    — any row lost, duplicated, or value-mangled by the ORC round trip
    breaks the hash. ORC gets the same pushdown machinery as parquet;
    the filter reaches the ORC scan."""
    back = spark.read.orc(_lineitem_orc_dir(spark, sf_dir)).filter(
        F.col("l_quantity") >= 25
    )
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            exact_sum("l_extendedprice", 2).alias("total_price"),
        )
        .orderBy("l_returnflag")
    )


@session_memo()
def _compacted_docs_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(64 splinter files, their 4-file compaction) of the corpus."""
    from ..sources.sinks import compact_parquet

    small = make_tempdir("docs_small_")
    compacted = make_tempdir("docs_compact_")
    load(spark, sf_dir, "documents").repartition(64).write.mode("overwrite").parquet(
        small
    )
    compact_parquet(spark, small, compacted, target_files=4)
    return small, compacted


@register(
    "maintenance_compact_files",
    oracle="""
    SELECT 64                                                AS n_files_before,
           4                                                 AS n_files_after,
           count(*)                                          AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents
    """,
)
def maintenance_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction proven end-to-end (maintenance tier): the
    corpus is stranded across 64 splinter files, compacted 16:1 with a
    shuffle-free coalesce rewrite (sources/sinks.py compact_parquet),
    and re-accounted from the compacted copy — the oracle recomputes
    from the source table, so a row lost or duplicated by the rewrite
    breaks the hash; the file counts pin the layout actually produced."""
    import glob

    small, compacted = _compacted_docs_dirs(spark, sf_dir)
    n_before = len(glob.glob(f"{small}/part-*.parquet"))
    n_after = len(glob.glob(f"{compacted}/part-*.parquet"))
    return (
        spark.read.parquet(compacted)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("total_tokens"),
        )
        .select(
            F.lit(n_before).alias("n_files_before"),
            F.lit(n_after).alias("n_files_after"),
            "n_docs",
            "total_tokens",
        )
    )


@register(
    "variant_json_stats",
    oracle="""
    SELECT event_type,
           count(*)                                                          AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def variant_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON through the VARIANT type (Spark 4's answer to
    schema-on-read payloads, F5 modern tier): ``parse_json`` ingests the
    payload ONCE into the binary variant encoding, typed paths come out
    with ``variant_get`` — unlike per-expression ``get_json_object``,
    which re-parses the string for every extraction. At 100 TB the parse
    happens at ingest and the variant column is what's stored; shredded
    access stays columnar.

    The parse_json pass is widened past I/O-sized splits first (the
    stage-width class — the single-split sf1.0 events scan serialized
    the parse onto one core). Measured sf1.0: 2.4 s -> 2.0 s cold-session protocol (the parse itself parallelized; the residual is job floor)."""
    from ..session import widen_narrow_scan

    events = widen_narrow_scan(
        load(spark, sf_dir, "events").select("event_type", "props")
    )
    v = events.select("event_type", F.parse_json("props").alias("v"))
    k = F.variant_get("v", "$.k", "bigint")
    return (
        v.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(k).alias("total_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "maintenance_incremental_agg",
    oracle="""
    SELECT lang,
           count(*)                   AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def maintenance_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (maintenance tier): the standing
    per-language aggregate over the existing corpus is MERGED with the
    delta batch's partial aggregate by key-wise addition — a full-outer
    join on the group key + coalesced sums — never recomputing the base.
    That is how a 100 TB nightly rollup absorbs a 100 GB ingest: the
    shuffle is over the AGGREGATE STATE (group count rows) and the
    delta, not the corpus. The oracle recomputes from scratch, proving
    merge(base, delta) == full recompute. Same fixture split as
    dedup_incremental (delta = doc_id % 10 == 7)."""
    docs = load(spark, sf_dir, "documents")

    def agg_part(df: DataFrame) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
        )

    base = agg_part(docs.filter(F.col("doc_id") % 10 != 7))
    delta = agg_part(docs.filter(F.col("doc_id") % 10 == 7))
    b, d = base.alias("b"), delta.alias("d")
    return (
        b.join(d, F.col("b.lang") == F.col("d.lang"), "full_outer")
        .select(
            F.coalesce(F.col("b.lang"), F.col("d.lang")).alias("lang"),
            (
                F.coalesce(F.col("b.n_docs"), F.lit(0))
                + F.coalesce(F.col("d.n_docs"), F.lit(0))
            ).alias("n_docs"),
            (
                F.coalesce(F.col("b.total_chars"), F.lit(0))
                + F.coalesce(F.col("d.total_chars"), F.lit(0))
            ).alias("total_chars"),
        )
        .orderBy("lang")
    )


@session_memo()
def _orders_generation_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """orders before 1997 without o_orderstatus, and from 1997 with it."""
    d1 = make_tempdir("orders_gen1_")
    d2 = make_tempdir("orders_gen2_")
    orders = load(spark, sf_dir, "orders")
    old_gen = orders.filter(F.year("o_orderdate") < 1997).select(
        "o_orderkey", "o_totalprice"
    )
    new_gen = orders.filter(F.year("o_orderdate") >= 1997).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old_gen.write.mode("overwrite").parquet(d1)
    new_gen.write.mode("overwrite").parquet(d2)
    return d1, d2


@register(
    "maintenance_schema_evolution",
    oracle=f"""
    SELECT CASE WHEN year(o_orderdate) < 1997 THEN '<absent>'
                ELSE o_orderstatus END          AS o_orderstatus,
           count(*)                             AS n_orders,
           {sum_sql('o_totalprice', 2)}         AS total_price
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
)
def maintenance_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches (maintenance tier): an
    old producer wrote orders WITHOUT the status column, a newer one
    added it — the read unifies both generations with ``mergeSchema``
    (old rows surface NULL status) and the accounting groups NULLs as
    their own bucket. This is the lakehouse drift case every long-lived
    100 TB table hits: schema-on-read union, no rewrite of old data.

    Scale note: mergeSchema schema inference reads FOOTERS of every
    file (a driver-side listing + distributed footer read) — at
    petabyte file counts you pin the merged schema explicitly or keep
    it in a catalog; the read path below is what both resolve to. The
    oracle recomputes from the single source table, proving the
    write→merge→read path loses nothing and NULL-fills exactly the old
    generation."""
    merged = spark.read.option("mergeSchema", "true").parquet(
        *_orders_generation_dirs(spark, sf_dir)
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("o_orderstatus"), F.lit("<absent>")).alias("o_orderstatus")
        )
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum("o_totalprice", 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@register("hll_sketch_users", oracle=None)
def hll_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (G10 scale path): a DataSketches
    HLL sketch of user_id per event_type, then ONE union across types
    for the global estimate — the 100 TB pattern where per-partition /
    per-day sketch state is unioned without ever re-scanning raw data
    (incremental rollup: yesterday's sketches + today's partition).

    Rows-only by design: DataSketches HLL and DuckDB's HLL implement
    different estimators, so values legitimately differ within error
    bounds; tests/test_operators.py pins both per-type and unioned
    estimates to within 5% of the exact distinct counts.

    Scale shape: partial sketch aggregation map-side (each sketch is a
    fixed few-KB buffer whatever the cardinality), one shuffle of
    #event_types sketch buffers, and the union is a second aggregate
    over those few rows — constant state per group, no row explosion."""
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    typed = per_type.select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    overall = per_type.agg(F.hll_union_agg("sk").alias("u")).select(
        F.lit("__all_types__").alias("event_type"),
        F.hll_sketch_estimate("u").alias("approx_users"),
    )
    return typed.unionAll(overall).orderBy("event_type")


def _zorder_oracle() -> str:
    from ..operators.layout import zvalue_sql

    z = zvalue_sql("(l_partkey & 4095)", "(l_suppkey & 4095)", 12)
    return f"""
    WITH z AS (
        SELECT ({z}) AS zval,
               (l_partkey & 4095) AS pk,
               (l_suppkey & 4095) AS sk
        FROM lineitem
    )
    SELECT zval >> 16 AS z_bucket,
           count(*) AS n_rows,
           min(pk) AS pk_min, max(pk) AS pk_max,
           min(sk) AS sk_min, max(sk) AS sk_max
    FROM z
    GROUP BY z_bucket
    ORDER BY z_bucket
    """


@register("zorder_locality_buckets", oracle=_zorder_oracle())
def zorder_locality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout accounting (§2.2 layout tier / SCALE.md
    maintenance): every row's z-value over (l_partkey, l_suppkey) low
    12 bits, rolled up into the 256 top-8-bit curve buckets with each
    bucket's span in BOTH dimensions — the property a Z-ordered file
    layout buys: any contiguous z-range (= one file) covers a bounded
    box in every interleaved key, so footer min/max stats prune scans
    on either predicate. The rewrite op itself (operators/layout.py
    zorder_rewrite: one repartitionByRange + sorted write) is proven on
    files in tests/test_scale_features.py; this entry pins the curve
    math bit-for-bit against the oracle (pure integer shifts — nothing
    can diverge cross-engine)."""
    from ..operators.layout import zvalue

    li = load(spark, sf_dir, "lineitem")
    pk = F.col("l_partkey").bitwiseAND(F.lit(4095))
    sk = F.col("l_suppkey").bitwiseAND(F.lit(4095))
    z = li.select(
        zvalue(pk, sk, 12).alias("zval"), pk.alias("pk"), sk.alias("sk")
    )
    return (
        z.groupBy(F.shiftright("zval", 16).alias("z_bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("pk").alias("pk_min"),
            F.max("pk").alias("pk_max"),
            F.min("sk").alias("sk_min"),
            F.max("sk").alias("sk_max"),
        )
        .orderBy("z_bucket")
    )


@register(
    "winsorized_price_stats",
    oracle="""
    WITH p AS (
        SELECT l_returnflag AS flag,
               quantile_cont(l_extendedprice, 0.01) AS p01,
               quantile_cont(l_extendedprice, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT flag, p01, p99,
           count(*) FILTER (WHERE l_extendedprice < p01) AS n_low,
           count(*) FILTER (WHERE l_extendedprice > p99) AS n_high,
           CAST(CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(28, 2)))
                    FILTER (WHERE l_extendedprice >= p01
                              AND l_extendedprice <= p99) AS VARCHAR) AS DOUBLE)
               AS sum_unclipped
    FROM lineitem JOIN p ON l_returnflag = p.flag
    GROUP BY flag, p01, p99
    ORDER BY flag
    """,
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization accounting (robust-stats tier): per group, the
    exact p01/p99 price fences and how much mass a 1%-winsorize would
    clip — the outlier-capping pass feature pipelines run before
    z-scoring heavy-tailed metrics.

    Exactness: the fences are exact interpolated percentiles (parity
    proven by percentiles_quantity); clip comparisons and counts are
    decided on identical doubles; the unclipped sum is exact integer
    cents (the fences themselves carry interpolation decimals, so the
    CLIPPED mass is reported as count x fence — computable bit-exactly
    by the reader — rather than summed in floats). ASSUMPTION: Spark
    ``percentile`` and DuckDB ``quantile_cont`` must agree
    bit-for-bit on the linear-interpolation formula
    ``lo + (hi - lo) * frac`` over doubles; the proven parity fixture
    (quantity) is integer-valued where interpolation lands exactly. A
    1-ulp divergence on another dataset would flip boundary n_low /
    n_high counts — if a future fixture trips this, compute the fences
    once (collect the 6 doubles) and parameterize BOTH queries with the
    literal values. Scale shape: ONE shuffle total. The fences are
    computed sort-based — row_number + partition count over the flag
    window, the two order statistics around each target rank lifted to
    every row as windowed conditional-max — and the conditional
    aggregate then groups by the SAME key, so Catalyst reuses the
    window exchange (no second scan, no fence recompute, no broadcast
    round-trip). Bit-equality of sort-based fences with
    ``F.percentile`` is proven in tests. A 3-value partition key caps
    reduce parallelism at 3; the exact-percentile contract pins that
    (both engines sort per group) — at 100 TB the profiling answer is
    approx_percentile/t-digest, catalogued separately (approx_stats).
    When to use which tier: SCALE.md §"winsorized exact vs approx —
    the decision table"."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    price = F.col("l_extendedprice")
    flagw = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(flagw.orderBy("l_extendedprice")).alias("__rn"),
        F.count("*").over(flagw).alias("__n"),
    )

    def pos(p: float) -> F.Column:
        # EXACTLY Spark Percentile.getPercentile's position arithmetic:
        # percentage * (count - 1) in doubles
        return F.lit(p) * (F.col("__n") - F.lit(1)).cast("double")

    def fence(p: float) -> F.Column:
        # EXACTLY Percentile.getPercentile's two-sided interpolation:
        # (higher - pos) * lowerKey + (pos - lower) * higherKey, with the
        # integral-position short-circuit. NOT lo + (hi-lo)*frac — that
        # algebraic twin rounds differently in the last ulp (caught by
        # tests/test_operators.py TestSortBasedPercentileFences).
        posn = pos(p)
        lo_idx, hi_idx = F.floor(posn), F.ceil(posn)
        lo = F.max(F.when(F.col("__rn") - 1 == lo_idx, price)).over(flagw)
        hi = F.max(F.when(F.col("__rn") - 1 == hi_idx, price)).over(flagw)
        return F.when(hi_idx == lo_idx, lo).otherwise(
            (hi_idx.cast("double") - posn) * lo + (posn - lo_idx.cast("double")) * hi
        )

    fenced = ranked.select(
        "l_returnflag",
        "l_extendedprice",
        fence(0.01).alias("__p01"),
        fence(0.99).alias("__p99"),
    )
    # no presentation orderBy: the result is 3 rows and the driver's
    # comparison is order-insensitive — a global sort here costs a
    # range-partition sampling job per run for nothing
    return fenced.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("__p01").alias("p01"),
        F.col("__p99").alias("p99"),
    ).agg(
        F.count(F.when(price < F.col("__p01"), 1)).alias("n_low"),
        F.count(F.when(price > F.col("__p99"), 1)).alias("n_high"),
        exact_sum(
            F.when((price >= F.col("__p01")) & (price <= F.col("__p99")), price),
            2,
        ).alias("sum_unclipped"),
    )


@register("winsorized_approx_stats", oracle=None)
def winsorized_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB winsorization path: the exact entry
    above documents its 3-task contract (exact per-group percentiles
    over a 3-value key cap parallelism at the key cardinality by
    contract); THIS entry is the answer that contract points to —
    ``percentile_approx`` (t-digest-style quantile sketch, accuracy
    10000) computes the p01/p99 fences with map-side partial sketches
    that merge associatively, so fence computation parallelizes with
    the scan instead of sorting each group. Shape: one tiny 3-row fence
    aggregate, broadcast back, one conditional aggregate — no per-group
    sort anywhere, the same two-scan plan a production winsorize runs.

    Rows-only by declared design: the sketch is engine-specific
    (DuckDB's approx_quantile is a different sketch with different
    error), so the ground truth is the exact entry — pytest bounds the
    approx fences against winsorized_price_stats' exact fences and the
    clipped-mass counts against the exact 1%-per-side contract
    (tests/test_operators.py TestSortBasedPercentileFences). When to
    use which tier: SCALE.md §"winsorized exact vs approx — the
    decision table"."""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    q = F.percentile_approx("l_extendedprice", F.lit([0.01, 0.99]), F.lit(10000))
    fences = li.groupBy("l_returnflag").agg(
        q.getItem(0).alias("p01"), q.getItem(1).alias("p99")
    )
    price = F.col("l_extendedprice")
    return (
        li.join(F.broadcast(fences), "l_returnflag")
        .groupBy(F.col("l_returnflag").alias("flag"), "p01", "p99")
        .agg(
            F.count(F.when(price < F.col("p01"), 1)).alias("n_low"),
            F.count(F.when(price > F.col("p99"), 1)).alias("n_high"),
            exact_sum(
                F.when((price >= F.col("p01")) & (price <= F.col("p99")), price),
                2,
            ).alias("sum_unclipped"),
        )
    )


@register(
    "summarize_orders",
    oracle="""
    WITH s AS (
        SELECT count(*) AS n,
               count(o_orderkey)  AS nn_key,  count(DISTINCT o_orderkey)  AS nd_key,
               CAST(min(o_orderkey) AS DOUBLE) AS mn_key, CAST(max(o_orderkey) AS DOUBLE) AS mx_key,
               count(o_custkey)   AS nn_cust, count(DISTINCT o_custkey)   AS nd_cust,
               CAST(min(o_custkey) AS DOUBLE) AS mn_cust, CAST(max(o_custkey) AS DOUBLE) AS mx_cust,
               count(o_totalprice) AS nn_tp,  count(DISTINCT o_totalprice) AS nd_tp,
               min(o_totalprice) AS mn_tp, max(o_totalprice) AS mx_tp,
               count(o_orderdate) AS nn_od,  count(DISTINCT o_orderdate)  AS nd_od,
               CAST(epoch(min(o_orderdate)) AS DOUBLE) AS mn_od,
               CAST(epoch(max(o_orderdate)) AS DOUBLE) AS mx_od,
               count(o_orderstatus) AS nn_st, count(DISTINCT o_orderstatus) AS nd_st,
               count(o_orderpriority) AS nn_pr, count(DISTINCT o_orderpriority) AS nd_pr
        FROM orders
    )
    SELECT 'o_orderkey' AS col_name, n - nn_key AS n_nulls, nd_key AS n_distinct,
           mn_key AS min_value, mx_key AS max_value FROM s
    UNION ALL SELECT 'o_custkey', n - nn_cust, nd_cust, mn_cust, mx_cust FROM s
    UNION ALL SELECT 'o_totalprice', n - nn_tp, nd_tp, mn_tp, mx_tp FROM s
    UNION ALL SELECT 'o_orderdate', n - nn_od, nd_od, mn_od, mx_od FROM s
    UNION ALL SELECT 'o_orderstatus', n - nn_st, nd_st, NULL, NULL FROM s
    UNION ALL SELECT 'o_orderpriority', n - nn_pr, nd_pr, NULL, NULL FROM s
    ORDER BY col_name
    """,
)
def summarize_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUMMARIZE-style table profiling (reference parity: DuckDB ships
    SUMMARIZE; the app layer's profile.py is the per-upload variant):
    one row per column with null count, exact distinct count, and
    numeric/temporal min-max (timestamps as epoch seconds, strings
    metric-less) — computed as a UNION of per-column single-distinct
    aggregates.

    Scale note: packing all six exact
    COUNT(DISTINCT)s into one aggregate plans through Expand — every
    input row replicated 7× through the shuffle. Per-column aggregates
    each plan as a plain two-phase distinct (no Expand) over a
    column-PRUNED scan, so total bytes read ≈ one full-width scan and
    the per-column jobs run independently. At 100 TB swap exact
    distincts for the hll_sketch_users path — this entry pins the
    exact-profile semantics."""
    from functools import reduce

    o = load(spark, sf_dir, "orders")
    null_d = F.lit(None).cast("double")

    def prof(col: str, mn: F.Column | None, mx: F.Column | None) -> DataFrame:
        return (
            o.select(col)
            .agg(
                (F.count("*") - F.count(col)).alias("n_nulls"),
                F.countDistinct(col).alias("n_distinct"),
                (mn if mn is not None else null_d).alias("min_value"),
                (mx if mx is not None else null_d).alias("max_value"),
            )
            .select(
                F.lit(col).alias("col_name"),
                "n_nulls",
                "n_distinct",
                "min_value",
                "max_value",
            )
        )

    as_d = lambda agg: agg.cast("double")  # noqa: E731
    ep = lambda agg: F.unix_timestamp(agg).cast("double")  # noqa: E731
    parts = [
        prof("o_orderkey", as_d(F.min("o_orderkey")), as_d(F.max("o_orderkey"))),
        prof("o_custkey", as_d(F.min("o_custkey")), as_d(F.max("o_custkey"))),
        prof("o_totalprice", F.min("o_totalprice"), F.max("o_totalprice")),
        prof("o_orderdate", ep(F.min("o_orderdate")), ep(F.max("o_orderdate"))),
        prof("o_orderstatus", None, None),
        prof("o_orderpriority", None, None),
    ]
    return reduce(DataFrame.unionAll, parts).orderBy("col_name")


@register(
    "mad_outlier_quantity",
    oracle="""
    WITH counts AS (
        SELECT l_returnflag AS flag, l_quantity AS q, count(*) AS c
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT flag, q, c,
               sum(c) OVER (PARTITION BY flag ORDER BY q
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
               sum(c) OVER (PARTITION BY flag) AS n
        FROM counts
    ),
    med AS (
        SELECT flag, n,
               min(CASE WHEN cm > FLOOR(0.5 * (n - 1)) THEN q END)   AS lo,
               min(CASE WHEN cm > CEIL(0.5 * (n - 1))  THEN q END)   AS hi,
               0.5 * (n - 1)                                          AS pos
        FROM cum GROUP BY flag, n
    ),
    med2 AS (
        SELECT flag, n,
               CASE WHEN CEIL(pos) = FLOOR(pos) THEN lo
                    ELSE (CEIL(pos) - pos) * lo + (pos - FLOOR(pos)) * hi
               END AS median_qty
        FROM med
    ),
    devs AS (
        SELECT counts.flag, ABS(q - median_qty) AS dev, sum(c) AS c
        FROM counts JOIN med2 ON counts.flag = med2.flag
        GROUP BY 1, 2
    ),
    dcum AS (
        SELECT flag, dev, c,
               sum(c) OVER (PARTITION BY flag ORDER BY dev
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
               sum(c) OVER (PARTITION BY flag) AS n
        FROM devs
    ),
    mad AS (
        SELECT flag,
               min(CASE WHEN cm > FLOOR(0.5 * (n - 1)) THEN dev END) AS lo,
               min(CASE WHEN cm > CEIL(0.5 * (n - 1))  THEN dev END) AS hi,
               0.5 * (n - 1)                                          AS pos
        FROM dcum GROUP BY flag, n
    ),
    mad2 AS (
        SELECT flag,
               CASE WHEN CEIL(pos) = FLOOR(pos) THEN lo
                    ELSE (CEIL(pos) - pos) * lo + (pos - FLOOR(pos)) * hi
               END AS mad_qty
        FROM mad
    )
    SELECT counts.flag                   AS l_returnflag,
           median_qty,
           mad_qty,
           CAST(sum(CASE WHEN ABS(q - median_qty) > 3 * 1.4826 * mad_qty
                         THEN c ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(sum(c) AS BIGINT)        AS n_rows
    FROM counts
    JOIN med2 ON counts.flag = med2.flag
    JOIN mad2 ON counts.flag = mad2.flag
    GROUP BY 1, 2, 3
    ORDER BY 1
    """,
)
def mad_outlier_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier accounting (median/MAD, the robust-stats tier next
    to winsorized_price_stats): per return flag, the exact median
    quantity, the median absolute deviation, and how many rows fall
    outside the classic 3·1.4826·MAD fence.

    Exactness: every statistic is derived from a VALUE HISTOGRAM
    ((flag, quantity) counts) with the interpolation written out
    explicitly — (ceil(pos)-pos)·lo + (pos-floor(pos))·hi over
    integer-valued quantities — so both engines execute the identical
    arithmetic; no engine percentile implementation is trusted
    (cross-engine quantile interpolation parity is only
    proven for integer-valued measures — this entry never leaves that
    domain, deviations are exact multiples of 0.5).

    Scale shape:
    the corpus reduces to a (flag, quantity) count histogram — bounded
    by |flags|·|distinct q| (150 rows here; still histogram-sized at
    100 TB because l_quantity is a 50-value integral measure) — which
    is collected MODEL-SIZED to the driver, where the median, the
    deviation histogram, the MAD and the fence counts are pure
    order-statistics arithmetic on ≤150 numbers. Same bounded-collect
    policy as the BPE merge table / IVF centroids; the former all-Spark
    formulation paid broadcast stages for two 3-row median frames +
    their joins ≈ 0.8 s of scale-independent driver floor per run.
    Measured at sf0.1 (SCALE.md): 4 jobs/run (the histogram aggregate's
    AQE stages + the LocalRelation result), ~0.6-0.9 s warm vs 1.20 s
    before the rework. NOTE the builder is deliberately EAGER: the
    histogram collect runs at DataFrame-construction time (catalog
    builder-laziness exception, documented in SCALE.md §eager-builders),
    so plan inspection on this entry sees only the final LocalRelation.
    The
    interpolation arithmetic below is IEEE-double identical to the
    oracle SQL's CASE expression (Python floats ARE doubles; same
    left-associative multiply order), so the rework is hash-invariant —
    the sort-based recipe in winsorize covers the continuous-measure
    case where no bounded histogram exists."""
    import math

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), F.col("l_quantity").alias("q")
    )
    counts = li.groupBy("flag", "q").agg(F.count("*").alias("c"))
    by_flag: dict[str, dict[float, int]] = {}
    for row in counts.collect():  # bounded: ≤ |flags| × |distinct q|
        by_flag.setdefault(row["flag"], {})[float(row["q"])] = row["c"]

    def hist_median(hist: dict[float, int]) -> tuple[float, int]:
        # EXACTLY the oracle's expression: pos = 0.5*(n-1); lo/hi are the
        # smallest values whose running count exceeds floor/ceil(pos);
        # (ceil(pos)-pos)*lo + (pos-floor(pos))*hi on doubles
        n = sum(hist.values())
        pos = 0.5 * (n - 1)
        lo_rank, hi_rank = math.floor(pos), math.ceil(pos)
        lo = hi = None
        cum = 0
        for v in sorted(hist):
            cum += hist[v]
            if lo is None and cum > lo_rank:
                lo = v
            if hi is None and cum > hi_rank:
                hi = v
                break
        if hi_rank == lo_rank:
            return lo, n
        return (hi_rank - pos) * lo + (pos - lo_rank) * hi, n

    out = []
    for flag in sorted(by_flag):
        hist = by_flag[flag]
        median, n = hist_median(hist)
        devs: dict[float, int] = {}
        for v, c in hist.items():
            dev = abs(v - median)
            devs[dev] = devs.get(dev, 0) + c
        mad, _ = hist_median(devs)
        fence = 3 * 1.4826 * mad  # same left-assoc multiply as the SQL
        n_out = sum(c for v, c in hist.items() if abs(v - median) > fence)
        out.append((flag, median, mad, n_out, n))
    from ..session import local_relation

    return local_relation(
        spark,
        out,
        "l_returnflag string, median_qty double, mad_qty double, "
        "n_outliers long, n_rows long",
    )


@session_memo()
def _orders_csvgz_dir(spark: SparkSession, sf_dir: str) -> str:
    path = make_tempdir("orders_csvgz_")
    (
        load(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .option("header", True)
        .option("compression", "gzip")
        .csv(path)
    )
    return path


@register(
    "sink_csv_gzip_roundtrip",
    oracle=f"""
    SELECT o_orderstatus,
           count(*)                         AS n_orders,
           {sum_sql("o_totalprice", 2)}     AS total_price
    FROM orders
    WHERE o_totalprice >= 1000
    GROUP BY 1
    ORDER BY 1
    """,
)
def sink_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-TEXT sink/source proven end-to-end (K1 durable
    variant, S3 text-format cousin): orders written as GZIP CSV once
    per corpus (codec='gzip', header on), read back with an explicit
    schema (no inference pass — at 100 TB a schema-inference read is a
    second full scan), filtered and aggregated with the exact-decimal
    scheme. gzip text is splittable-at-file-granularity only, so the
    write keeps Spark's natural output partitioning (one .gz per task)
    — the read parallelizes across FILES, which is the real-world shape
    of compressed text lakes. The oracle recomputes from parquet — any
    row lost or value mangled by the CSV serialize/parse or the codec
    breaks the hash. The written copy lives in an atexit-cleaned temp
    dir (caches.make_tempdir), memoized per session by
    caches.session_memo, which rebuilds it if the dir is removed
    mid-process."""
    back = spark.read.schema("o_orderstatus STRING, o_totalprice DOUBLE").option(
        "header", True
    ).csv(_orders_csvgz_dir(spark, sf_dir))
    return (
        back.filter(F.col("o_totalprice") >= 1000)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum("o_totalprice", 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "maintenance_snapshot_diff",
    oracle=f"""
    WITH v1 AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
    ),
    v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 1000000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 101 = 0
    ),
    diff AS (
        SELECT CASE
                   WHEN v1.o_orderkey IS NULL THEN 'insert'
                   WHEN v2.o_orderkey IS NULL THEN 'delete'
                   WHEN v1.o_totalprice <> v2.o_totalprice
                     OR v1.o_orderstatus <> v2.o_orderstatus THEN 'update'
                   ELSE 'unchanged'
               END AS change_type,
               COALESCE(v2.o_totalprice, v1.o_totalprice) AS price
        FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    )
    SELECT change_type,
           count(*)                      AS n_rows,
           {sum_sql("price", 2)}         AS total_price
    FROM diff
    GROUP BY 1
    ORDER BY 1
    """,
)
def maintenance_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC-feed derivation (the §2.10 maintenance tier's
    table-versioning operator): classify every key of two table
    versions as insert / delete / update / unchanged and account the
    affected value mass — what a lakehouse emits as a change feed when
    no transaction log exists. The second version is synthesized
    deterministically from the first (every 97th key deleted, every
    89th price bumped by +1.0, every 101st re-inserted under a shifted
    key), so the oracle rebuilds both sides closed-form.

    Exactness: key arithmetic is integer modulo; the price bump is one
    IEEE add of parquet-identical doubles; totals are cents-exact sums.

    Scale shape: THE canonical table-diff plan — one full-outer
    equi-join on the key with both sides hash-partitioned by it (at
    100 TB this is the sort-merge diff every snapshot reconciler runs;
    nothing driver-sized), then an all-map-side conditional
    classification and a 4-row aggregate. No window, no collect; the
    synthetic-v2 construction is fixture plumbing that a real feed
    replaces with yesterday's snapshot scan."""
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    v2 = (
        base.filter(k % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 89 == 0, F.col("o_totalprice") + F.lit(1.0)).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            base.filter(k % 101 == 0).select(
                (k + F.lit(1000000000)).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
            )
        )
    )
    a = base.select(
        F.col("o_orderkey").alias("k1"),
        F.col("o_totalprice").alias("p1"),
        F.col("o_orderstatus").alias("s1"),
    )
    b = v2.select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_totalprice").alias("p2"),
        F.col("o_orderstatus").alias("s2"),
    )
    diff = a.join(b, a.k1 == b.k2, "full_outer").select(
        F.when(F.col("k1").isNull(), "insert")
        .when(F.col("k2").isNull(), "delete")
        .when(
            (F.col("p1") != F.col("p2")) | (F.col("s1") != F.col("s2")), "update"
        )
        .otherwise("unchanged")
        .alias("change_type"),
        F.coalesce("p2", "p1").alias("price"),
    )
    return (
        diff.groupBy("change_type")
        .agg(
            F.count("*").alias("n_rows"),
            exact_sum("price", 2).alias("total_price"),
        )
        .orderBy("change_type")
    )


@session_memo()
def _docs_generation_dir(spark: SparkSession, sf_dir: str) -> str:
    """gen=a: (doc_id, lang, n_chars) of even docs; gen=b adds quality."""
    path = make_tempdir("schema_evo_")
    docs = load(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "n_chars"
    ).write.mode("overwrite").parquet(path + "/gen=a")
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("n_chars") * 2).cast("long").alias("quality"),
    ).write.mode("overwrite").parquet(path + "/gen=b")
    return path


@register(
    "source_schema_evolution",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(count(*) FILTER (WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL)
                AS BIGINT)                                        AS n_with_quality,
           CAST(COALESCE(sum(n_chars * 2) FILTER (WHERE doc_id % 2 = 1), 0)
                AS BIGINT)                                        AS sum_quality
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema DRIFT across parquet generations, read as one table (S2
    depth): generation A carries (doc_id, lang, n_chars),
    generation B adds a `quality` column — the routine shape of a lake
    whose producer gained a field mid-stream. ``mergeSchema=true``
    unifies the footers (a per-file footer read, not a data scan) and
    A's rows surface NULL quality; the aggregate proves both halves'
    rows and the added column's values survive. Oracle: recomputes the
    same answer from the ORIGINAL fixture (the sink-entry discipline —
    the oracle never touches the temp files, so any row lost or column
    mis-merged by the evolution read breaks the hash). The written
    generations live in an atexit-cleaned temp dir, memoized per corpus
    with dead-path self-invalidation. At scale: mergeSchema costs one
    footer per FILE — on a petabyte lake pin the unified schema in a
    catalog instead; the read path here is identical either way."""
    path = _docs_generation_dir(spark, sf_dir)
    back = spark.read.option("mergeSchema", "true").parquet(
        path + "/gen=a", path + "/gen=b"
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("quality").cast("long").alias("n_with_quality"),
            F.coalesce(F.sum("quality"), F.lit(0)).cast("long").alias("sum_quality"),
        )
        .orderBy("lang")
    )


# Single source of truth for the corpus table list: no second hardcoded
# copy alongside tables.py and scale_rehearsal.py.
_FOOTER_TABLES = tables.TABLE_NAMES


@register(
    "source_footer_inventory",
    oracle="WITH u AS ("
    + "\n    UNION ALL ".join(
        f"SELECT '{t}' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,"
        f" (SELECT CAST(count(*) AS BIGINT)"
        f"  FROM pragma_table_info('{t}')) AS n_cols FROM {t}"
        for t in _FOOTER_TABLES
    )
    + "\n    ) SELECT tbl, n_rows, n_cols FROM u ORDER BY tbl",
)
def source_footer_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only corpus inventory (S-tier): row and column
    counts for every table of the corpus read from parquet FOOTERS
    alone, executor-side — zero data pages touched. This is the audit
    pass a 100 TB lake runs constantly (is the manifest consistent? did
    yesterday's compaction lose rows?), and the reason it must not be a
    count(*) scan: footers are KB-sized regardless of file size, so the
    inventory costs O(files), not O(bytes). The oracle recomputes both
    numbers the expensive way (count(*) + catalog introspection on the
    registered views), so a footer misread, a dropped file, or a
    row-group/page miscount all break the hash.

    Scale shape: the file list becomes a DataFrame and footer reads run
    inside mapInPandas (pyarrow.parquet.read_metadata / read_schema —
    Arrow is executor-local), one task per file after an explicit
    repartition — at petabyte file counts the list itself comes from a
    catalog/manifest relation and the same map-only plan applies; the
    per-table rollup is a groupBy over |files| KB-sized rows. Column
    count comes from the Arrow-level schema (logical top-level fields,
    list/struct nesting collapsed), not the physical leaf count."""
    import glob as _glob
    import os as _os

    from pyspark.sql import types as T

    from ..session import local_relation

    files = []
    for t in _FOOTER_TABLES:
        root = _os.path.join(sf_dir, f"{t}.parquet")
        # Directory-style layouts (a multi-file dataset written by a
        # distributed job) hold part files INSIDE {t}.parquet/ — the
        # footer sum over part files equals the dataset row count.
        if _os.path.isdir(root):
            found = sorted(_glob.glob(_os.path.join(root, "*.parquet")))
        else:
            found = sorted(_glob.glob(root))
        if not found:
            # Fail loudly: an empty glob means a wrong
            # sf_dir or an unrecognized layout — returning an empty
            # relation would read as "inventory clean" to a caller.
            raise FileNotFoundError(
                f"source_footer_inventory: no parquet files for table "
                f"{t!r} under {sf_dir!r} (looked for {root} and "
                f"{root}/*.parquet)"
            )
        files.extend((t, p) for p in found)
    # local_relation, not createDataFrame(list): the file list must be a
    # LocalTableScan, not a 32-task pickled-RDD scan (see session.py).
    flist = local_relation(spark, files, "tbl string, path string").repartition(
        len(files)
    )

    def _footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            tbls, rows, cols = [], [], []
            for t, p in zip(pdf["tbl"], pdf["path"]):
                md = pq.read_metadata(p)
                sch = pq.read_schema(p)
                tbls.append(t)
                rows.append(int(md.num_rows))
                cols.append(len(sch.names))
            yield pd.DataFrame(
                {
                    "tbl": pd.Series(tbls, dtype="object"),
                    "n_rows": pd.Series(rows, dtype="int64"),
                    "n_cols": pd.Series(cols, dtype="int64"),
                }
            )

    schema = T.StructType(
        [
            T.StructField("tbl", T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("n_cols", T.LongType()),
        ]
    )
    per_file = flist.mapInPandas(_footers, schema)
    return (
        per_file.groupBy("tbl")
        .agg(F.sum("n_rows").alias("n_rows"), F.max("n_cols").alias("n_cols"))
        .orderBy("tbl")
    )
