"""Structured Streaming catalog entries over the events and documents
fixtures: window aggregations, watermark dedup and late drop, stream-
static and stream-stream joins, ingest-time text accounting and the
durable foreachBatch sink.

``readStream`` from the same parquet fixtures drives a real streaming
query (file source → watermark → stateful operator → sink). In
production the source line swaps for Kafka and the sink for a
parquet/Delta ``writeStream`` with checkpointing; the transformation
graph is unchanged — that is the point of the Structured Streaming
model, and the entries with a batch twin (tumbling, sliding, langid)
run the twin's own transformation and oracle.

The reference has NO streaming (roadmap-only: reference README.md:110
"实时数据: 支持 Kafka、Redis" unchecked); semantics here are Spark
defaults (event-time windows, watermark-bounded state).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import events_q, text_q
from ..queries.caches import make_tempdir, parquet_schema, session_memo
from ..queries.catalog import register
from ..tables import convert_event_ts, load, table_path

# State-store partition count for the bounded fixture replays. The number
# of state stores is frozen to spark.sql.shuffle.partitions at a streaming
# query's FIRST batch; every partition pays per-batch store open/commit
# I/O regardless of how little state it holds, so a fixture-scale replay
# wants far fewer than a cluster run (where you size this to the executor
# count BEFORE the first checkpoint is written — it cannot change after).
STREAM_SHUFFLE_PARTITIONS = 8


# Base of the scratch directories for checkpoint/sink state: tmpfs when
# the host has one. The HDFS-backed state store commits one delta file
# PER STORE PER BATCH (write + rename + fsync), and the file-source /
# commit logs add more small synced writes — on hosts whose temp volume
# has slow fsync this dominates a bounded replay (measured 3.5× on the
# streaming suite). State-store durability on a LOCAL disk buys nothing
# anyway: recovery after node loss needs a shared filesystem, which is
# what production checkpoint locations are — so locally, RAM-backed
# tmpfs is the honest equivalent. tmpfs is RAM-backed and typically
# capped at 50% of memory, so every directory goes through
# caches.make_tempdir and is removed at interpreter exit — otherwise
# repeated bench/pytest runs accumulate checkpoint state until tmpfs
# fills and mid-run writes start failing.
SCRATCH_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else None

# A purchase joins the same user's clicks within this lookback
_LOOKBACK = "INTERVAL 1 hour"


@contextmanager
def stream_run_confs(spark: SparkSession) -> Iterator[None]:
    """Session confs scoped around a bounded streaming replay.

    * shuffle partitions → STREAM_SHUFFLE_PARTITIONS (see above);
    * noDataMicroBatches off: all entries here either aggregate in
      complete/update mode or inner-join with in-batch emission, so every
      RESULT row is produced by the data batches themselves — the
      trailing no-data batch exists only to advance the watermark and
      evict state, which is pure per-query overhead when the query is
      stopped immediately after draining;
    * checkpoint root → tmpfs (see SCRATCH_BASE): every query here
      checkpoints under it instead of a slow-fsync temp volume.

    The confs are read at ``start()``; restoring them after the run
    keeps batch entries in the same session unaffected.
    """
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    ndmb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    ckpt = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    spark.conf.set(
        "spark.sql.streaming.checkpointLocation",
        make_tempdir("stream_ckpt_", SCRATCH_BASE),
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", ndmb)
        if ckpt is None:
            spark.conf.unset("spark.sql.streaming.checkpointLocation")
        else:
            spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt)


def _drain(spark: SparkSession, writer) -> None:
    """Start a bounded streaming query under the replay confs and block
    until every available input is processed, then stop it."""
    with stream_run_confs(spark):
        query = writer.start()
        try:
            query.processAllAvailable()
        finally:
            query.stop()


def _memory_sink(spark: SparkSession, stream: DataFrame, mode: str) -> DataFrame:
    """Drain ``stream`` in output ``mode`` into a memory sink and return
    its rows. The sink registers a temp view holding every row; the frame
    bound to it keeps the rows after the view is dropped, so the view is
    dropped at once instead of living as long as the session."""
    sink = f"stream_sink_{uuid.uuid4().hex[:8]}"
    try:
        _drain(spark, stream.writeStream.outputMode(mode).format("memory").queryName(sink))
        rows = spark.table(sink)
    finally:
        spark.catalog.dropTempView(sink)
    return rows


def _foreach_batch_parquet(
    spark: SparkSession, stream: DataFrame, build: Callable[[DataFrame], DataFrame]
) -> str:
    """Drain ``stream`` through ``foreachBatch``: ``build(batch)`` of every
    micro-batch lands in a parquet directory partitioned by batch id with
    DYNAMIC partition overwrite, so a replayed batch (failure → restart
    from checkpoint) overwrites its own partition instead of appending
    duplicates — the exactly-once recipe for non-transactional stores.
    Returns the directory."""
    out = make_tempdir("fb_sink_", SCRATCH_BASE)

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            build(batch_df)
            .withColumn("__batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch")
            .parquet(out)
        )

    _drain(spark, stream.writeStream.foreachBatch(sink_batch))
    return out


def _fixture_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over one fixture table: the streaming form of
    tables.load, with the schema from the file's footer.

    Pinned BEFORE the stream starts: a streaming entry may run first in
    a fresh session, and the stateful entries reference module-level
    pandas UDFs that executors can only unpickle once _ship_package has
    shipped the package zip. ``events.ts`` is normalized inside the
    streaming plan (see tables.convert_event_ts).
    """
    from ..session import pin_session_defaults

    pin_session_defaults(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = parquet_schema(spark, table_path(sf_dir, name))
    # the fixture is a single parquet file; stream its directory with a
    # glob filter so the file source gets a directory basePath
    df = spark.readStream.schema(schema).option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)
    return convert_event_ts(df) if name == "events" else df


def _replay_stream(spark: SparkSession, replay: str) -> DataFrame:
    """File-source stream over a ``_stage_replay`` directory: one file per
    micro-batch, oldest mtime first. The schema comes from the first
    generation's footer on the driver: every generation has the same
    columns, and reading it needs no schema-inference job."""
    return (
        spark.readStream.schema(parquet_schema(spark, os.path.join(replay, "gen0.parquet")))
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(replay)
    )


@register("streaming_tumbling_10min", oracle=events_q.TUMBLING_10MIN_SQL)
def streaming_tumbling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_tumbling_10min's transformation run as a streaming query.
    Complete output mode so a bounded fixture yields every window (the
    append-mode variant would withhold windows above the final
    watermark)."""
    events = _fixture_stream(spark, sf_dir, "events")
    return _memory_sink(spark, events_q.tumbling_10min(events), "complete")


@register(
    "streaming_session_windows",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR date_diff('millisecond', prev_ts, ts) >= 1800 * 1000
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute gap sessions per user via the native ``session_window``
    operator. Oracle: gaps-and-islands SQL with the native operator's
    boundary rule — a gap of exactly the 30-minute threshold STARTS a
    new session (window span is [start, last_ts + gap)), hence ``>=``
    where the custom batch sessionizer (events_sessionization) uses
    ``>``."""
    agg = (
        _fixture_stream(spark, sf_dir, "events")
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    return _memory_sink(spark, agg, "complete").select(
        "user_id",
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
    )


@register(
    "streaming_dedup_minute",
    oracle="""
    SELECT event_type, count(*) AS n_unique
    FROM (
        SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS mb
        FROM events
    )
    GROUP BY event_type
    """,
)
def streaming_dedup_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` on (user, type, minute) with
    watermark-bounded state — the unbounded-stream form of
    events_dedup_minute. The bounded fixture replays as one
    micro-batch, so the result equals the global distinct the oracle
    computes."""
    deduped = (
        _fixture_stream(spark, sf_dir, "events")
        .withColumn("minute_bucket", F.date_trunc("minute", F.col("ts")))
        .withWatermark("minute_bucket", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute_bucket"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
    return _memory_sink(spark, deduped, "complete")


@register(
    "streaming_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           e.event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(round(e.value, 2) AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension (customer market segment), then aggregated per segment.

    The static side is a plain batch DataFrame joined with a broadcast
    hint — Structured Streaming re-plans it per microbatch, which is how
    slowly-changing dimensions are normally attached to a stream without
    any stateful join machinery. Oracle: the equivalent batch join.
    """
    customers = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    agg = (
        _fixture_stream(spark, sf_dir, "events")
        .join(F.broadcast(customers), "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value"), 2).cast("decimal(28,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    return _memory_sink(spark, agg, "complete")


@register("streaming_sliding_1h_30m", oracle=events_q.SLIDING_1H_30M_SQL)
def streaming_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_sliding_1h_30m's transformation run as a streaming query —
    each event contributes to two overlapping windows; state per open
    window is bounded by the watermark."""
    events = _fixture_stream(spark, sf_dir, "events")
    return _memory_sink(spark, events_q.sliding_1h_30m(events), "complete")


@register(
    "streaming_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           c.event_id AS click_id,
           CAST(date_diff('millisecond', c.ts, p.ts) AS BIGINT) AS ms_since_click
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each purchase event joined to the same
    user's click events within the preceding hour — the many-rows
    counterpart of the as-of join (events_asof), which keeps only the
    latest click.

    Both sides are real streams; the time-interval condition plus
    watermarks bound the join state (clicks older than the lookback
    window get evicted — without the interval the state would grow
    forever). Inner joins emit within the microbatch, so a bounded
    replay produces the complete result. Oracle: the equivalent batch
    interval join.
    """
    purchases = (
        _fixture_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        _fixture_stream(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.user_id)
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(_LOOKBACK)),
        "inner",
    ).select(
        "purchase_id",
        purchases.user_id.alias("user_id"),
        "click_id",
        # unix_millis truncates each side to ms before subtracting —
        # DuckDB date_diff('millisecond') boundary-crossing semantics
        (F.unix_millis(F.col("p_ts")) - F.unix_millis(F.col("c_ts"))).alias(
            "ms_since_click"
        ),
    )
    return _memory_sink(spark, joined, "append")


_SSLOJ_SENTINEL_BASE = 9_000_000_000_000


def _stage_replay(gens: list[DataFrame], prefix: str) -> str:
    """Write each generation as one parquet file into a fresh replay dir,
    mtimes pinned so the file source replays them as ordered batches."""
    import glob
    import shutil

    replay = make_tempdir(f"{prefix}_src_", SCRATCH_BASE)
    for i, part in enumerate(gens):
        d = make_tempdir(f"{prefix}_gen{i}_", SCRATCH_BASE)
        part.coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(replay, f"gen{i}.parquet")
        shutil.copyfile(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)
    return replay


@session_memo()
def _ssloj_replay(spark: SparkSession, sf_dir: str) -> str:
    """gen0 = the events fixture; gen1/gen2 = one far-future sentinel
    purchase + click each (see streaming_stream_stream_leftjoin)."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    ticks = [
        ev.agg(F.max("ts").alias("m")).select(
            F.lit(_SSLOJ_SENTINEL_BASE + 2 * i + j).cast("long").alias("event_id"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit(t).alias("event_type"),
            (F.col("m") + F.expr(f"INTERVAL {12 * 60 + i} MINUTES")).alias("ts"),
        )
        for i in range(2)
        for j, t in enumerate(("purchase", "click"))
    ]
    return _stage_replay(
        [ev, ticks[0].union(ticks[1]), ticks[2].union(ticks[3])], "ssloj"
    )


@register(
    "streaming_stream_stream_leftjoin",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           c.event_id AS click_id,
           CAST(date_diff('millisecond', c.ts, p.ts) AS BIGINT) AS ms_since_click
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def streaming_stream_stream_leftjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the state-eviction semantics the
    inner entry cannot show: a purchase with NO click in the preceding
    hour must still emit (click_id/ms_since_click NULL), and Spark only
    emits such rows when the CLICK-side watermark proves no matching
    click can still arrive. Inner results emit in-batch; outer results
    emit on eviction, so a single-file replay would hold every
    unmatched purchase forever (the query stops before any watermark
    passes the join window). Oracle: the equivalent batch LEFT interval
    join.

    Replay (same discipline as streaming_watermark_latedrop): gen0 = the
    full events fixture; gen1/gen2 = one far-future sentinel PURCHASE +
    CLICK each (ts = max+12h/+12h1m), because eviction applies the
    PREVIOUS batch's watermark (the one-batch propagation lag the
    latedrop entry documents). After gen2 every real join window is
    past both watermarks, unmatched purchases have flushed, and the
    memory sink holds exactly the batch LEFT JOIN result (plus the
    sentinels' own in-batch match, removed by a BATCH-side filter on
    the sink read).

    THE PUSHDOWN TRAP (found the hard way, sf0.01: 2 rows stuck
    forever): sentinels must be excluded from the result, but ANY
    deterministic predicate on left-side columns placed above the join
    — event_type or an id range — is pushed by Catalyst below the
    LEFT leg's EventTimeWatermark node and into the scan, so the
    left-side watermark NEVER SEES the sentinel rows and freezes at
    max(real purchase ts) - delay; the min multiple-watermark policy
    then pins the global watermark and the last hour of unmatched
    purchases never emits. A streaming-side filter cannot distinguish
    "drop from result" from "hide from watermark". The sentinel filter
    therefore lives on the BATCH read of the sink table, where no
    streaming watermark exists to poison; the sentinels flow through
    withWatermark BEFORE the type filters, so they advance both
    watermarks and never enter the join.

    Scale: state on both sides is bounded by watermark + interval — the
    same eviction this entry proves end to end; the NULL-emission rule
    is what makes bounded-state outer joins safe to run continuously.
    """
    src = _replay_stream(spark, _ssloj_replay(spark, sf_dir))
    purchases = (
        src.withWatermark("ts", "30 minutes")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        src.withWatermark("ts", "30 minutes")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user_id)
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(_LOOKBACK)),
        "leftOuter",
    ).select(
        "purchase_id",
        "user_id",
        "click_id",
        (F.unix_millis(F.col("p_ts")) - F.unix_millis(F.col("c_ts"))).alias(
            "ms_since_click"
        ),
    )
    # sentinel removal happens HERE, on the batch read — see the
    # pushdown-trap paragraph in the docstring
    return _memory_sink(spark, joined, "append").filter(
        F.col("purchase_id") < _SSLOJ_SENTINEL_BASE
    )


@register("streaming_langid_counts", oracle=text_q.LANGID_CONFUSION_SQL)
def streaming_langid_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_langid_confusion's transformation run over a document stream:
    a pipeline watching label drift as shards land, in complete output
    mode."""
    docs = _fixture_stream(spark, sf_dir, "documents")
    return _memory_sink(spark, text_q.langid_confusion(docs), "complete")


@register(
    "streaming_incremental_dedup",
    oracle="""
    WITH keyed AS (
        SELECT doc_id,
               array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS k
        FROM documents
    )
    SELECT n.doc_id AS new_doc_id,
           min(e.doc_id) AS dup_of_existing
    FROM keyed n
    JOIN keyed e ON n.k = e.k AND e.doc_id % 10 <> 7
    WHERE n.doc_id % 10 = 7
    GROUP BY n.doc_id
    ORDER BY n.doc_id
    """,
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup (X1×X6): documents STREAM in and each batch
    is checked against the static existing corpus by normalized
    token-set key — the ingest-time twin of the batch dedup_incremental
    entry and its oracle (new batch = doc_id % 10 == 7, existing = the
    rest).

    The join is stream-static: the static side's key frame builds once
    and broadcasts per micro-batch; no stream state accumulates (exact
    keys need no watermark). Complete-mode agg so the memory sink holds
    the final accounting.
    """
    from ..operators.dedup import normalized_token_set_key

    key = normalized_token_set_key("text")
    stream = (
        _fixture_stream(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 7)
        .select(F.col("doc_id").alias("new_doc_id"), key.alias("k"))
    )
    existing = (
        spark.read.parquet(table_path(sf_dir, "documents"))
        .filter(F.col("doc_id") % 10 != 7)
        .select(F.col("doc_id").alias("e_id"), key.alias("k"))
    )
    hits = (
        stream.join(existing, "k")
        .groupBy("new_doc_id")
        .agg(F.min("e_id").alias("dup_of_existing"))
    )
    return _memory_sink(spark, hits, "complete").orderBy("new_doc_id")


@register(
    "streaming_foreachbatch_sink",
    oracle="""
    SELECT lang,
           count(*)                                          AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def streaming_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production sink path: every micro-batch of the document
    stream is written idempotently through ``_foreach_batch_parquet``,
    and the final accounting is read FROM THE SINK FILES. The memory
    sink proves streaming SEMANTICS elsewhere in this package; this
    proves the durable-output contract — the oracle recomputes from the
    source table, so any batch dropped, duplicated, or half-written
    breaks the hash."""
    out = _foreach_batch_parquet(
        spark,
        _fixture_stream(spark, sf_dir, "documents"),
        lambda batch: batch.select("doc_id", "lang", "text"),
    )
    return (
        spark.read.parquet(out)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
        )
        .orderBy("lang")
    )


@register("streaming_cms_sketch", oracle=None)
def streaming_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance through Structured Streaming: each
    micro-batch of the document stream builds its own Count-Min sketch
    (operators/sketches.py), persisted by ``_foreach_batch_parquet``;
    the final sketch is the cell-wise SUM of all batch sketches. This
    is the 100 TB frequency-state story: the per-batch state written is
    depth×width integers regardless of batch size, and yesterday's
    sketch never needs raw data again. Output: exact top-10 tokens with
    their merged-sketch estimates (estimate >= exact by the CMS
    guarantee). Rows-only (Spark-internal xxhash64 buckets); TestCountMin
    pins streaming==batch sketch equality cell for cell.
    """
    from ..operators import sketches
    from ..session import widen_narrow_scan

    def batch_sketch(batch_df: DataFrame) -> DataFrame:
        # A file-source micro-batch inherits the source's I/O-sized
        # split count (1-2 partitions for the single fixture file), and
        # cms_build's map side fans every token to depth cells (explode +
        # 4×xxhash64 per token — the CPU-dense part). Inside foreachBatch
        # this is a plain batch DataFrame, so the narrow-scan widen
        # applies as-is and the fan runs on every core; the (d, bucket)
        # count that follows shuffles ≤ depth×width rows either way.
        toks = widen_narrow_scan(batch_df).select(
            F.explode(F.split(F.col("text"), " ")).alias("tok")
        ).filter(F.length("tok") > 0)
        return sketches.cms_build(toks, "tok")

    out = _foreach_batch_parquet(
        spark, _fixture_stream(spark, sf_dir, "documents").select("text"), batch_sketch
    )
    merged = (
        spark.read.parquet(out).groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    toks = (
        widen_narrow_scan(spark.read.parquet(table_path(sf_dir, "documents")).select("text"))
        .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    exact_top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.desc("exact_count"), "tok")
        .limit(10)
    )
    est = sketches.cms_estimate(exact_top.select("tok"), merged, "tok")
    return (
        exact_top.join(est, "tok")
        .select("tok", "exact_count", "cms_estimate")
        .orderBy(F.desc("exact_count"), "tok")
    )


@register(
    "streaming_topk_tokens",
    oracle="""
    WITH t AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT tok, count(*) AS n
    FROM t
    WHERE len(tok) > 0
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 10
    """,
)
def streaming_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy-hitter accounting with EXACT state: token counts
    maintained over the document stream in complete mode, top 10 read
    off the sink (count desc, token asc, so the LIMIT is stable) — the
    exact twin of streaming_cms_sketch: same question, state
    O(vocabulary) instead of O(depth×width). Having both catalogued is
    the point: the exact form is the oracle-checkable baseline, the
    sketch form is what survives when the vocabulary no longer fits
    state.
    """
    counts = (
        _fixture_stream(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    return (
        _memory_sink(spark, counts, "complete")
        .orderBy(F.desc("n"), "tok")
        .limit(10)
        .select("tok", F.col("n").cast("long").alias("n"))
    )


@session_memo()
def _latedrop_replay(spark: SparkSession, sf_dir: str) -> str:
    """Replay dir for the watermark late-drop proof: gen0 = the on-time
    flow, gen1/gen2 = two single-row "tick" batches (near-max rows that
    advance NOTHING but let the watermark PROPAGATE), gen3 = the late
    arrivals."""
    from pyspark.sql import Window as SqlWindow

    ev = load(spark, sf_dir, "events").select("event_id", "ts")
    on_time = ev.filter(F.col("event_id") % 5 != 0)
    # rank 1 (the max) stays in gen0 so batch 0 sets the final
    # watermark; ranks 2 and 3 become the tick batches
    rk = F.row_number().over(SqlWindow.orderBy(F.desc("ts"), F.desc("event_id")))
    ranked = on_time.withColumn("__rk", rk)
    gens = [
        ranked.filter(~F.col("__rk").isin(2, 3)).drop("__rk"),
        ranked.filter(F.col("__rk") == 2).drop("__rk"),
        ranked.filter(F.col("__rk") == 3).drop("__rk"),
        ev.filter(F.col("event_id") % 5 == 0),
    ]
    return _stage_replay(gens, "latedrop")


@register(
    "streaming_watermark_latedrop",
    oracle="""
    WITH on_time AS (SELECT ts FROM events WHERE event_id % 5 <> 0),
    late AS (SELECT ts FROM events WHERE event_id % 5 = 0),
    wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM on_time),
    kept AS (
        SELECT ts FROM on_time
        UNION ALL
        SELECT late.ts FROM late, wm
        WHERE date_trunc('hour', late.ts) + INTERVAL 1 HOUR > wm.w
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n_events
    FROM kept
    GROUP BY 1
    ORDER BY 1
    """,
)
def streaming_watermark_latedrop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP, observed end to end — the streaming
    semantic none of the other entries exercises (their single-file
    replays never present data behind the watermark).

    Spark 3.4+ runs stateful operators with TWO watermark values per
    batch: rows are late-filtered against the PREVIOUS batch's
    watermark and state is evicted against the current one (the
    watermark takes one extra batch to propagate to the filter). A
    naive two-batch replay therefore drops NOTHING — measured here:
    numRowsDroppedByWatermark=0 and every late row aggregated, exactly
    Spark's documented best-effort one-direction guarantee. The replay
    is four batches instead:

      batch 0  the on-time 80% (event_id % 5 != 0), whose max ts M
               sets the watermark M - 2 hours;
      batch 1  a single near-max on-time row (2nd-largest ts) — does
               not raise M, lets the filter watermark catch up;
      batch 2  the 3rd-largest on-time row — same, one more hop so
               filter wm == eviction wm == M - 2 hours;
      batch 3  the held-back 20% (event_id % 5 == 0), now arriving
               behind a fully-propagated watermark: rows whose hour
               window closed at or before M - 2 hours are DROPPED, rows
               in still-open windows aggregate.

    Update-mode aggregation; the memory sink holds every update, and
    counts only grow, so max-per-window reads the final value
    deterministically. The oracle reproduces the drop rule in closed
    form: on-time rows all count; late rows count only where
    ``window_end > M - 2 hours``. Sub-millisecond caveat: Spark tracks
    event time in ms, so a fixture whose max ts carries microseconds
    AND lands exactly 2 hours past a whole-hour boundary could
    disagree with DuckDB's µs interval arithmetic — hour-aligned window
    ends make that measure-zero, and the fixtures are fixed.

    Scale: state is bounded by the watermark (closed windows evict, and
    the late filter uses the SAME predicate, so dropped windows are
    never resurrected); the filter is a map-side comparison against a
    literal — this entry is the eviction proof the unbounded
    complete-mode entries cannot give."""
    agg = (
        _replay_stream(spark, _latedrop_replay(spark, sf_dir))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n_events"))
    )
    return (
        _memory_sink(spark, agg, "update")
        .groupBy(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start")
        )
        .agg(F.max("n_events").cast("long").alias("n_events"))
        .orderBy("window_start")
    )
