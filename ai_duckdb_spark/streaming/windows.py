"""Structured Streaming window aggregations over the events table.

``readStream`` from the same parquet fixtures drives a real streaming
query (file source → watermark → windowed agg → memory sink). In
production the source line swaps for Kafka and the sink for a
parquet/Delta ``writeStream`` with checkpointing; the transformation
graph is unchanged — that is the point of the Structured Streaming model.

The reference has NO streaming (roadmap-only: reference README.md:110
"实时数据: 支持 Kafka、Redis" unchecked); semantics here are Spark
defaults (event-time windows, watermark-bounded state).
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.caches import make_tempdir, parquet_schema, session_memo
from ..tables import convert_event_ts, table_path

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
    * checkpoint root → tmpfs (see SCRATCH_BASE): queries without an
      explicit checkpointLocation land under it instead of a slow-fsync
      temp volume.

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


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (schema from a batch peek).

    ``ts`` arrives as nanos-since-epoch long or TIMESTAMP_NTZ depending
    on the fixture generation (see tables.convert_event_ts) and is
    normalized to a session-zone timestamp inside the streaming plan.
    """
    from ..session import pin_session_defaults

    # pin BEFORE the stream starts: streaming entries must be self-
    # sufficient in a fresh session — in particular _ship_package, since
    # the stateful entries reference module-level pandas UDFs that
    # executors can only unpickle if the package zip was shipped (batch
    # entries pin via tables.load; a streaming entry may run first)
    pin_session_defaults(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    schema = parquet_schema(spark, path)
    # the fixture is a single parquet file; stream its directory with a
    # glob filter so the file source gets a directory basePath
    return convert_event_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents fixture (same pinning
    contract as :func:`_event_stream`)."""
    from ..session import pin_session_defaults

    pin_session_defaults(spark)
    path = table_path(sf_dir, "documents")
    schema = parquet_schema(spark, path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def tumbling_counts_stream(
    spark: SparkSession,
    sf_dir: str,
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling event-time window counts, executed as a streaming query.

    Complete output mode so a bounded fixture yields every window (the
    append-mode variant would withhold windows above the final
    watermark); the returned DataFrame is the drained memory sink.
    """
    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value"), 2).cast("decimal(28,2)")).cast("double").alias("total_value"),
        )
    )
    sink = f"tumbling_sink_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        agg.writeStream.outputMode("complete").format("memory").queryName(sink),
    )
    return spark.table(sink).select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


def session_window_stream(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based session windows via the native session_window operator."""
    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    sink = f"session_sink_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        agg.writeStream.outputMode("complete").format("memory").queryName(sink),
    )
    return spark.table(sink).select(
        "user_id",
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
    )


def dedup_within_watermark_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming dedup on (user_id, event_type, minute) within the watermark."""
    deduped = (
        _event_stream(spark, sf_dir)
        .withColumn("minute_bucket", F.date_trunc("minute", F.col("ts")))
        .withWatermark("minute_bucket", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute_bucket"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
    sink = f"dedup_sink_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        deduped.writeStream.outputMode("complete").format("memory").queryName(sink),
    )
    return spark.table(sink)


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension (customer market segment), then aggregated per segment.

    The static side is a plain batch DataFrame joined with a broadcast
    hint — Structured Streaming re-plans it per microbatch, which is how
    slowly-changing dimensions are normally attached to a stream without
    any stateful join machinery.
    """
    from ..tables import load

    customers = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    agg = (
        _event_stream(spark, sf_dir)
        .join(F.broadcast(customers), "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value"), 2).cast("decimal(28,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    sink = f"enrich_sink_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        agg.writeStream.outputMode("complete").format("memory").queryName(sink),
    )
    return spark.table(sink)


def sliding_counts_stream(
    spark: SparkSession,
    sf_dir: str,
    window_duration: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding event-time windows through a streaming query — each event
    contributes to duration/slide overlapping windows; state per open
    window is bounded by the watermark."""
    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration, slide).alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value"), 2).cast("decimal(28,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    sink = f"sliding_sink_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        agg.writeStream.outputMode("complete").format("memory").queryName(sink),
    )
    return spark.table(sink).select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_events",
        "total_value",
    )


def stream_stream_purchase_click_join(
    spark: SparkSession, sf_dir: str, lookback: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each purchase event joined to the same
    user's click events within the preceding ``lookback``.

    Both sides are real streams; the time-interval condition plus
    watermarks bound the join state (clicks older than the lookback
    window get evicted — without the interval the state would grow
    forever). Inner joins emit within the microbatch, so a bounded
    replay produces the complete result.
    """
    purchases = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        _event_stream(spark, sf_dir)
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
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}")),
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
    sink = f"ssjoin_sink_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        joined.writeStream.outputMode("append").format("memory").queryName(sink),
    )
    return spark.table(sink)


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
    purchase + click each (see stream_stream_purchase_click_left_join)."""
    from ..tables import load

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


def stream_stream_purchase_click_left_join(
    spark: SparkSession, sf_dir: str, lookback: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER join — the state-eviction semantics the
    inner entry cannot show: a purchase with NO click in the preceding
    ``lookback`` must still emit (click_id/ms_since_click NULL), and
    Spark only emits such rows when the CLICK-side watermark proves no
    matching click can still arrive. Inner results emit in-batch; outer
    results emit on eviction, so a single-file replay would hold every
    unmatched purchase forever (the query stops before any watermark
    passes the join window).

    Replay (same discipline as watermark_latedrop_stream): gen0 = the
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
    streaming watermark exists to poison.

    Scale: state on both sides is bounded by watermark + interval — the
    same eviction this entry proves end to end; the NULL-emission rule
    is what makes bounded-state outer joins safe to run continuously.
    """
    replay = _ssloj_replay(spark, sf_dir)
    schema = spark.read.parquet(replay).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(replay)
    )
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
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}")),
        "leftOuter",
    ).select(
        "purchase_id",
        "user_id",
        "click_id",
        (F.unix_millis(F.col("p_ts")) - F.unix_millis(F.col("c_ts"))).alias(
            "ms_since_click"
        ),
    )
    sink = f"ssloj_sink_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        joined.writeStream.outputMode("append").format("memory").queryName(sink),
    )
    # sentinel removal happens HERE, on the batch read — see the
    # pushdown-trap paragraph in the docstring
    return spark.table(sink).filter(F.col("purchase_id") < _SSLOJ_SENTINEL_BASE)


def langid_confusion_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-ingest accounting: language-ID confusion counts
    maintained over a document stream (file source over the documents
    fixture). The ingest-time shape of the batch text_langid_confusion
    query — a pipeline watching label drift as shards land. Complete
    output mode; the heuristic itself is the shared textstats column
    expression, so batch and stream share one definition.
    """
    from ..operators.textstats import predicted_lang

    docs = _document_stream(spark, sf_dir)
    agg = docs.groupBy("lang", predicted_lang().alias("predicted_lang")).agg(
        F.count("*").alias("n")
    )
    sink = f"langid_sink_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        agg.writeStream.outputMode("complete").format("memory").queryName(sink),
    )
    return spark.table(sink).orderBy("lang", "predicted_lang")


def incremental_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup: documents STREAM in (file source) and each
    batch is checked against the static existing corpus by normalized
    token-set key — the ingest-time twin of the batch dedup_incremental
    entry (new batch = doc_id % 10 == 7, existing = the rest).

    The join is stream-static: the static side's key frame builds once
    and broadcasts per micro-batch; no stream state accumulates (exact
    keys need no watermark). Complete-mode agg so the memory sink holds
    the final accounting.
    """
    from ..operators.dedup import normalized_token_set_key

    key = normalized_token_set_key("text")
    stream = (
        _document_stream(spark, sf_dir)
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
    sink = f"incdedup_sink_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        hits.writeStream.outputMode("complete").format("memory").queryName(sink),
    )
    return spark.table(sink).orderBy("new_doc_id")


def foreach_batch_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production sink path: ``foreachBatch`` writes every micro-batch
    to a parquet directory partitioned by batch id with DYNAMIC partition
    overwrite — a replayed batch (failure → restart from checkpoint)
    overwrites its own partition instead of appending duplicates, which
    is the standard exactly-once recipe for non-transactional stores.
    The memory sink proves streaming SEMANTICS elsewhere in this package;
    this proves the durable-output contract: what lands on disk after the
    stream drains is byte-for-byte the source corpus.
    """
    out = make_tempdir("fb_sink_", SCRATCH_BASE)
    ckpt = make_tempdir("fb_ckpt_", SCRATCH_BASE)

    stream = _document_stream(spark, sf_dir).select("doc_id", "lang", "text")

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch")
            .parquet(out)
        )

    with stream_run_confs(spark):
        query = (
            stream.writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    back = spark.read.parquet(out)
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
        )
        .orderBy("lang")
    )


def cms_sketch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance through Structured Streaming: each
    micro-batch of the document stream builds its own Count-Min sketch
    (operators/sketches.py) and persists it partitioned by batch id
    (dynamic overwrite — replayed batches replace their own partition,
    the exactly-once recipe); the final sketch is the cell-wise SUM of
    all batch sketches. This is the 100 TB frequency-state story: the
    per-batch state written is depth×width integers regardless of batch
    size, and yesterday's sketch never needs raw data again. Output:
    exact top-10 tokens with their merged-sketch estimates (estimate >=
    exact by the CMS guarantee; cell-wise streaming==batch equality is
    pytest-pinned in TestCountMin).
    """
    from ..operators import sketches
    from ..session import widen_narrow_scan

    out = make_tempdir("cms_sink_", SCRATCH_BASE)
    ckpt = make_tempdir("cms_ckpt_", SCRATCH_BASE)

    stream = _document_stream(spark, sf_dir).select("text")

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
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
        (
            sketches.cms_build(toks, "tok")
            .withColumn("__batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch")
            .parquet(out)
        )

    with stream_run_confs(spark):
        query = (
            stream.writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()

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


def topk_tokens_stream(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Streaming heavy-hitter accounting with EXACT state: token counts
    maintained over the document stream in complete mode, final top-k
    read off the sink — the exact twin of the CMS sketch stream
    (cms_sketch_stream): same question, state O(vocabulary) instead of
    O(depth×width). Having both catalogued is the point: the exact form
    is the oracle-checkable baseline, the sketch form is what survives
    when the vocabulary no longer fits state.
    """
    docs = _document_stream(spark, sf_dir)
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    sink = f"topk_sink_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        counts.writeStream.outputMode("complete").format("memory").queryName(sink),
    )
    return (
        spark.table(sink)
        .orderBy(F.desc("n"), "tok")
        .limit(k)
        .select("tok", F.col("n").cast("long").alias("n"))
    )


@session_memo()
def _latedrop_replay(spark: SparkSession, sf_dir: str) -> str:
    """Replay dir for the watermark late-drop proof: gen0 = the on-time
    flow, gen1/gen2 = two single-row "tick" batches (near-max rows that
    advance NOTHING but let the watermark PROPAGATE), gen3 = the late
    arrivals."""
    from pyspark.sql import Window as SqlWindow

    from ..tables import load

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


def watermark_latedrop_stream(
    spark: SparkSession,
    sf_dir: str,
    delay: str = "2 hours",
    window_duration: str = "1 hour",
) -> DataFrame:
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
               sets the watermark M - delay;
      batch 1  a single near-max on-time row (2nd-largest ts) — does
               not raise M, lets the filter watermark catch up;
      batch 2  the 3rd-largest on-time row — same, one more hop so
               filter wm == eviction wm == M - delay;
      batch 3  the held-back 20% (event_id % 5 == 0), now arriving
               behind a fully-propagated watermark: rows whose hour
               window closed at or before M - delay are DROPPED, rows
               in still-open windows aggregate.

    Update-mode aggregation; the memory sink holds every update, and
    counts only grow, so max-per-window reads the final value
    deterministically. The oracle reproduces the drop rule in closed
    form: on-time rows all count; late rows count only where
    ``window_end > M - delay``. Sub-millisecond caveat: Spark tracks
    event time in ms, so a fixture whose max ts carries microseconds
    AND lands exactly ``delay`` past a whole-hour boundary could
    disagree with DuckDB's µs interval arithmetic — hour-aligned window
    ends make that measure-zero, and the fixtures are fixed.

    Scale: state is bounded by the watermark (closed windows evict, and
    the late filter uses the SAME predicate, so dropped windows are
    never resurrected); the filter is a map-side comparison against a
    literal — this entry is the eviction proof the unbounded
    complete-mode entries cannot give."""
    replay = _latedrop_replay(spark, sf_dir)
    schema = spark.read.parquet(replay).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(replay)
    )
    agg = (
        src.withWatermark("ts", delay)
        .groupBy(F.window("ts", window_duration).alias("win"))
        .agg(F.count("*").alias("n_events"))
    )
    sink = f"latedrop_sink_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        agg.writeStream.outputMode("update").format("memory").queryName(sink),
    )
    return (
        spark.table(sink)
        .groupBy(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start")
        )
        .agg(F.max("n_events").cast("long").alias("n_events"))
        .orderBy("window_start")
    )
