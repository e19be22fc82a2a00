"""Temporal / event-stream queries over the events fixture (SURVEY.md
§2.9 X1 [D]): tumbling + sliding windows, sessionization, as-of join,
time-bucketed dedup — batch forms the DuckDB oracle can verify. Their
Structured Streaming forms are registered in streaming/, two of them
from the same transformations (tumbling_10min, sliding_1h_30m).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join_backward
from ..functions.exact import exact_sum
from ..operators.sessionize import capped_session_stats, session_stats
from ..tables import load
from .catalog import register

# DuckDB-side 10-minute bucket, written as epoch arithmetic so alignment
# (unix epoch origin) is explicit and engine-neutral.
_BUCKET_10M = "to_timestamp(floor(epoch(ts) / 600) * 600)::TIMESTAMP"
_BUCKET_30M = "to_timestamp(floor(epoch(ts) / 1800) * 1800)::TIMESTAMP"


TUMBLING_10MIN_SQL = f"""
    SELECT strftime({_BUCKET_10M}, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*)             AS n_events,
           CAST(CAST(sum(CAST(round(value, 2) AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """


def tumbling_10min(events: DataFrame) -> DataFrame:
    """Tumbling 10-minute event-time windows per event type, over a batch
    or a streaming frame (shared by events_tumbling_10min and
    streaming_tumbling_10min).

    ``F.window`` buckets align to the unix epoch, matching the oracle's
    explicit epoch-floor arithmetic. Map-side partial aggregation means
    the shuffle carries one row per (window, type) per partition. The
    30-minute watermark bounds a stream's window state; the optimizer
    drops it from a batch frame.
    """
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), exact_sum("value").alias("total_value"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register("events_tumbling_10min", oracle=TUMBLING_10MIN_SQL)
def events_tumbling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windows per event type (see tumbling_10min)."""
    return tumbling_10min(load(spark, sf_dir, "events"))


SLIDING_1H_30M_SQL = f"""
    WITH starts AS (
        SELECT {_BUCKET_30M} AS win_start, value FROM events
        UNION ALL
        SELECT {_BUCKET_30M} - INTERVAL 30 MINUTE AS win_start, value FROM events
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*)             AS n_events,
           CAST(CAST(sum(CAST(round(value, 2) AS DECIMAL(28,2))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM starts
    GROUP BY 1
    """


def sliding_1h_30m(events: DataFrame) -> DataFrame:
    """Sliding windows (1 h wide, 30 min slide) over a batch or a
    streaming frame (shared by events_sliding_1h_30m and
    streaming_sliding_1h_30m): each event lands in two windows, and the
    oracle enumerates the same two window starts per event. The 2-hour
    watermark bounds a stream's open-window state; the optimizer drops
    it from a batch frame."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(F.count("*").alias("n_events"), exact_sum("value").alias("total_value"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


@register("events_sliding_1h_30m", oracle=SLIDING_1H_30M_SQL)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1 h / 30 min windows (see sliding_1h_30m)."""
    return sliding_1h_30m(load(spark, sf_dir, "events"))


@register(
    "events_sessionization",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN prev_ts IS NULL
                         OR date_diff('millisecond', prev_ts, ts) > 1800 * 1000
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, event_id,
               CAST(sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_seq
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, session_seq, count(*) AS n_events
        FROM sessions GROUP BY user_id, session_seq
    )
    SELECT user_id,
           max(session_seq)           AS n_sessions,
           avg(n_events)              AS avg_session_events,
           CAST(sum(n_events) AS BIGINT) AS n_total_events
    FROM per_session
    GROUP BY user_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30 min max gap) per user: count + mean size."""
    events = load(spark, sf_dir, "events")
    return session_stats(events, key="user_id", ts="ts", gap_seconds=1800, tiebreak="event_id")


@register(
    "events_asof_purchase_click",
    oracle="""
    SELECT p.event_id                                      AS purchase_id,
           p.user_id,
           coalesce(c.event_id, -1)                        AS click_id,
           coalesce(date_diff('millisecond', c.ts, p.ts), -1) AS ms_since_click
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def events_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest prior click.

    Spark has no native ASOF JOIN; this uses the union+window operator
    (operators/asof.py — one shuffle, JVM-only), checked against DuckDB's
    native ASOF LEFT JOIN.
    """
    events = load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("c_event_id")
    )
    joined = asof_join_backward(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="purchase_ts",
        right_ts="click_ts",
        payload={"click_id": "c_event_id", "matched_click_ts": "click_ts"},
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
        F.coalesce(
            F.unix_millis("purchase_ts") - F.unix_millis("matched_click_ts"), F.lit(-1)
        ).alias("ms_since_click"),
    )


@register(
    "events_daily_type_counts",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS event_date,
           CAST(count(*) FILTER (event_type = 'view')     AS BIGINT) AS n_view,
           CAST(count(*) FILTER (event_type = 'click')    AS BIGINT) AS n_click,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
           CAST(count(*) FILTER (event_type = 'error')    AS BIGINT) AS n_error,
           CAST(count(*) FILTER (event_type = 'error') AS DOUBLE) / count(*) AS error_rate
    FROM events
    GROUP BY 1
    ORDER BY event_date
    """,
)
def events_daily_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type breakdown + error rate (conditional aggregation)."""
    events = load(spark, sf_dir, "events")

    def n_of(t: str) -> F.Column:
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("long")

    return (
        events.groupBy(F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("event_date"))
        .agg(
            n_of("view").alias("n_view"),
            n_of("click").alias("n_click"),
            n_of("purchase").alias("n_purchase"),
            n_of("error").alias("n_error"),
            (n_of("error").cast("double") / F.count("*")).alias("error_rate"),
        )
        .orderBy("event_date")
    )


@register(
    "events_dedup_minute",
    oracle="""
    SELECT user_id,
           event_type,
           strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute_bucket,
           min(event_id) AS kept_event_id
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def events_dedup_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed dedup: one survivor per (user, type, minute).

    Batch analogue of streaming ``dropDuplicatesWithinWatermark``
    (streaming/windows.py) with a deterministic min-id survivor rule so
    the oracle can verify it.

    Jobs audit: the grouping key is the truncated TIMESTAMP (8
    bytes) and the display string is formatted AFTER the aggregate —
    grouping on the formatted string shuffled a 19-char key per row
    and ran date_format on every input row instead of every group
    (~1M groups here, but at 100 TB with real dedup ratios the group
    side is the small one). Same output (format is injective per
    minute)."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id",
            "event_type",
            F.date_trunc("minute", F.col("ts")).alias("__minute"),
        )
        .agg(F.min("event_id").alias("kept_event_id"))
        .select(
            "user_id",
            "event_type",
            F.date_format("__minute", "yyyy-MM-dd HH:mm:ss").alias("minute_bucket"),
            "kept_event_id",
        )
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS view_ts
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS click_ts
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts >= v.view_ts
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS purchase_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts
        GROUP BY 1
    )
    SELECT (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM c) AS n_clicked_after_view,
           (SELECT count(*) FROM p) AS n_purchased_after_click,
           (SELECT count(*) FROM p) * 1.0 / (SELECT count(*) FROM v)
               AS view_to_purchase_rate
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click-after-view →
    purchase-after-click): how many users advance through each stage in
    event-time order — the product-analytics query shape a clickstream
    warehouse runs constantly.

    Each stage is a keyed aggregation joined forward on user_id; all
    three joins shuffle on the same key, so at scale they co-locate
    after the first exchange (no re-partitioning between stages), and
    stage frames only ever carry (user_id, ts). The conversion ratio is
    integer/integer division — oracle-exact."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("view_ts")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    counts = v.agg(F.count("*").alias("n_viewed")).crossJoin(
        c.agg(F.count("*").alias("n_clicked_after_view"))
    ).crossJoin(p.agg(F.count("*").alias("n_purchased_after_click")))
    return counts.select(
        "n_viewed",
        "n_clicked_after_view",
        "n_purchased_after_click",
        (F.col("n_purchased_after_click") * 1.0 / F.col("n_viewed")).alias(
            "view_to_purchase_rate"
        ),
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY 1
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
    )
    SELECT strftime(f.cohort_day, '%Y-%m-%d')            AS cohort_day,
           CAST(a.active_day - f.cohort_day AS BIGINT)   AS day_offset,
           count(*)                                      AS n_active_users
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY f.cohort_day, day_offset
    ORDER BY cohort_day, day_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort triangle: users grouped by first-seen day, then
    counted per (cohort, day-offset) of later activity — the standard
    DAU-retention matrix.

    Two shuffles on user_id (first-day agg + distinct activity) that
    co-locate, then one tiny accounting shuffle on (cohort, offset).
    user_id never leaves the executors; offsets are integer date
    arithmetic, oracle-exact."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("active_day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("active_day").alias("cohort_day"))
    activity = ev.distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("active_day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_active_users"))
        .orderBy("cohort_day", "day_offset")
    )


@register(
    "events_peak_hourly_rate",
    oracle="""
    WITH rolling AS (
        SELECT user_id,
               count(*) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
               ) AS n_last_hour
        FROM events
    )
    SELECT user_id, CAST(max(n_last_hour) AS BIGINT) AS peak_hourly_events
    FROM rolling
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_peak_hourly_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-TIME rolling window (RANGE frame over a 1-hour interval,
    not a row count): each event's trailing-hour activity, rolled up to
    the per-user peak — the rate-limiting / burst-detection shape.

    Spark expresses interval RANGE frames as a rangeBetween over epoch
    seconds — one window shuffle keyed by user_id, then a tiny max
    rollup on the same key (co-located, no second exchange)."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    rolling = ev.withColumn("n_last_hour", F.count("*").over(w))
    return (
        rolling.groupBy("user_id")
        .agg(F.max("n_last_hour").cast("long").alias("peak_hourly_events"))
        .orderBy("user_id")
    )


@register(
    "events_gap_fill_locf",
    oracle="""
    WITH b AS (
        SELECT date_trunc('hour', min(ts)) AS h0,
               date_trunc('hour', max(ts)) AS h1
        FROM events
    ),
    grid AS (
        SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM (SELECT DISTINCT event_type FROM events), b
    ),
    hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT g.event_type, g.hour,
           coalesce(last_value(h.n IGNORE NULLS)
                        OVER (PARTITION BY g.event_type ORDER BY g.hour
                              ROWS UNBOUNDED PRECEDING), 0) AS n_filled,
           CAST(h.n IS NULL AS INT) AS was_gap
    FROM grid g
    LEFT JOIN hourly h ON g.event_type = h.event_type AND g.hour = h.hour
    ORDER BY g.event_type, g.hour
    """,
)
def events_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with last-observation-carried-forward
    (temporal tier): a dense hourly grid per event type over the
    corpus's time range, empty hours flagged and filled with the most
    recent observed hourly count — the resampling step monitoring and
    feature pipelines run before rate math, since missing buckets
    otherwise read as zero activity AND break window arithmetic.

    Exactness: counts are integers, LOCF copies them verbatim, and both
    engines walk the identical grid in the identical per-type order —
    nothing floats. Scale shape: the grid is #types x #hours rows
    (tiny — time ranges grow linearly, not with data volume) built from
    a broadcast 1-row bounds frame; the hourly aggregate is one shuffle
    of the events scan; the LOCF window partitions by type so state
    never crosses executors."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce(F.last("n", ignorenulls=True).over(w), F.lit(0)).alias(
                "n_filled"
            ),
            F.col("n").isNull().cast("int").alias("was_gap"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "events_capped_sessions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN prev_ts IS NULL
                         OR date_diff('millisecond', prev_ts, ts) > 1800 * 1000
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, ts, event_id,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_seq
        FROM flagged
    ),
    sliced AS (
        SELECT user_id, ts, session_seq,
               CAST(FLOOR(date_diff('millisecond',
                   min(ts) OVER (PARTITION BY user_id, session_seq), ts)
                   / (900 * 1000.0)) AS BIGINT) AS sub_seq
        FROM sessions
    ),
    per_sub AS (
        SELECT user_id, session_seq, sub_seq,
               count(*) AS n_events,
               date_diff('millisecond', min(ts), max(ts)) / 1000.0 AS duration_s
        FROM sliced
        GROUP BY 1, 2, 3
    )
    SELECT user_id,
           count(*)                      AS n_capped_sessions,
           CAST(max(n_events) AS BIGINT) AS max_session_events,
           max(duration_s)               AS max_session_duration_s,
           CAST(sum(n_events) AS BIGINT) AS n_total_events
    FROM per_sub
    GROUP BY user_id
    """,
)
def events_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-capped sessionization (X1 batch form, the state-bounding
    variant): 30-min max-gap sessions additionally sliced into 15-min
    cap windows from each session's first event — the rule that keeps
    per-session state bounded however long a client stays active.
    Cap-width slicing keeps it one window pass and bit-identical to the
    SQL twin (integer millisecond math; see
    operators/sessionize.py capped_session_stats)."""
    events = load(spark, sf_dir, "events")
    return capped_session_stats(
        events, key="user_id", ts="ts", gap_seconds=1800, cap_seconds=900,
        tiebreak="event_id",
    )
