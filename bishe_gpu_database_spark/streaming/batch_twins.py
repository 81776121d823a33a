"""Batch twins of the streaming aggregations (oracle-checkable).

Each streaming operator in ``streams.py`` has a deterministic batch
formulation here with a DuckDB oracle; the pytest streaming suite then
asserts stream-output == batch-twin-output, closing the loop:
oracle ⇔ batch twin ⇔ stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bishe_gpu_database_spark.operators.relational import dec, t
from bishe_gpu_database_spark.registry import register
from bishe_gpu_database_spark.streaming.streams import (
    run_chained_stateful_runtime,
    run_dedup_runtime,
    run_interval_join_runtime,
    run_session_runtime,
    run_sliding_runtime,
    run_tumbling_runtime,
)


@register(
    "stream_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window (batch twin of the streaming
    version — F.window().start on an aligned grid ≡ date_trunc('hour'))."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(dec("value")).cast("double").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value"
        )
    )


@register(
    "stream_sliding_window",
    oracle="""
    WITH expanded AS (
      SELECT e.*, time_bucket(INTERVAL '30 minutes', ts)
                  - k * (INTERVAL '30 minutes') AS window_start
      FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS k)
    )
    SELECT window_start, count(*) AS n_events
    FROM expanded
    GROUP BY window_start
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h wide, 30 min slide): every event lands in two
    windows. Spark's F.window(slide=) does the expansion; the oracle
    replicates it with an explicit 2-way unnest."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


@register(
    "stream_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts > lag(ts) OVER w + INTERVAL '5 minutes' THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM marked
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 5-minute inactivity gap — the batch
    formulation (lag → new-session flag → running sum) of Spark's
    ``session_window``. Ties broken by event_id; one shuffle on user_id."""
    # Explicit 3-column projection; Catalyst's ColumnPruning reaches the
    # same ReadSchema through the Window, this just states the intent.
    e = t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    marked = e.withColumn(
        "new_session",
        F.when(
            prev_ts.isNull() | (F.col("ts") > prev_ts + F.expr("INTERVAL 5 MINUTES")), 1
        ).otherwise(0),
    )
    sessions = marked.withColumn(
        "session_id",
        F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "stream_dedup_by_key",
    oracle="""
    SELECT user_id, event_type, min(event_id) AS first_event_id, count(*) AS n_dupes
    FROM events
    GROUP BY user_id, event_type
    """,
)
def stream_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup (batch twin of streaming dropDuplicates within the
    watermark): first event per (user, type) + duplicate count."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"), F.count(F.lit(1)).alias("n_dupes")
    )


# The actual Structured Streaming runtime, oracle-checked: replay events
# as a file stream, watermarked tumbling counts, availableNow drain.
# Append mode emits exactly the windows closed by the final watermark —
# the oracle computes that same set in SQL (every window except those
# still open at max event time).
register(
    "stream_runtime_tumbling",
    oracle="""
    WITH mx AS (SELECT max(ts) AS m FROM events)
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           count(*) AS n_events
    FROM events, mx
    WHERE ts >= TIMESTAMP '1970-01-01'  -- pre-epoch ingest guard (streams.events_stream)
    GROUP BY 1, 2, mx.m
    HAVING time_bucket(INTERVAL 1 HOUR, min(ts)) + INTERVAL 1 HOUR <= mx.m
    """,
)(run_tumbling_runtime)


@register(
    "stream_interval_join",
    oracle="""
    WITH c AS (SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts AS p_ts, event_id FROM events
          WHERE event_type = 'purchase')
    SELECT p.event_id AS purchase_id, p.p_ts,
           count(c.c_ts) AS n_clicks_30m,
           max(c.c_ts) AS last_click_ts
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
     AND c.c_ts <= p.p_ts
    GROUP BY p.event_id, p.p_ts
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream time-interval join (each purchase
    matched to the same user's clicks in the preceding 30 minutes),
    aggregated to attribution counts per purchase. The streaming runtime
    form — watermarks bounding both sides' state — runs in
    tests/test_streaming.py::test_stream_stream_interval_join_matches_batch;
    this twin gives it a DuckDB oracle.

    r11 (guide §2.4/§3, r10 verdict item 2): the old form scanned
    events twice (clicks, purchases) and planned a clicks-side-BUILD
    range join — per purchase, the whole per-user click set is probed
    and range-filtered, a fan-out of clicks x purchases per user, and
    the build side (every click, unbounded at the 100 TB design point)
    had to broadcast or shuffle. Reformulated as ONE scan + ONE shuffle:
    clicks and purchases ride the same user-keyed exchange, and a RANGE
    frame over event-time micros ([-30 min, 0], exactly the oracle's
    closed interval — unix_micros is lossless on the micros timestamps
    the fixtures carry) counts each purchase row's preceding clicks
    in a single sorted pass with no pair blowup. The trailing groupBy
    reproduces the oracle's GROUP BY (event_id, p_ts) exactly even for
    duplicate purchase rows (their join-multiplied click counts SUM).
    The null-user guard mirrors the oracle's equi-join dropping NULL
    user matches."""
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_type", "event_id")
    ec = e.filter(F.col("event_type").isin("click", "purchase"))
    click_ts = F.when(
        (F.col("event_type") == "click") & F.col("user_id").isNotNull(), F.col("ts")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-30 * 60 * 1_000_000, 0)
    )
    # Both window expressions in ONE select so they share a single
    # Window node (and one Sort): chained withColumn interleaves fresh
    # projections that block the CollapseWindow rule.
    return (
        ec.select(
            "event_type",
            "event_id",
            "ts",
            F.count(click_ts).over(w).alias("n_c"),
            F.max(click_ts).over(w).alias("lc"),
        )
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts"))
        .agg(
            F.sum("n_c").alias("n_clicks_30m"),
            F.max("lc").alias("last_click_ts"),
        )
    )


# The actual session-window streaming runtime, oracle-checked: the state
# store merges overlapping [ts, ts+gap) windows per user; append mode
# emits exactly the sessions closed by the final watermark. The oracle
# rebuilds the same sessions with gap-and-island SQL (new session iff
# the gap to the previous event is ≥ 30 min — half-open window
# semantics) and applies the same emission cutoff.
register(
    "stream_runtime_session",
    oracle="""
    WITH mx AS (SELECT max(ts) AS m FROM events),
    marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts >= lag(ts) OVER w + INTERVAL '30 minutes' THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WHERE ts >= TIMESTAMP '1970-01-01'  -- pre-epoch ingest guard
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    agg AS (
      SELECT user_id,
             min(ts) AS session_start,
             max(ts) + INTERVAL '30 minutes' AS session_end,
             count(*) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events
    FROM agg, mx
    WHERE session_end <= mx.m
    """,
)(run_session_runtime)


# The actual sliding-window streaming runtime, oracle-checked: 1-hour
# windows sliding every 15 minutes (each event fans out to 4 windows —
# Spark's Expand under the hood), watermarked append emission. The
# oracle reproduces the fan-out with a 4-offset cross join and applies
# the same end ≤ max-event-time cutoff.
register(
    "stream_runtime_sliding",
    oracle="""
    WITH mx AS (SELECT max(ts) AS m FROM events),
    g AS (SELECT unnest([0, 1, 2, 3]) AS k),
    w AS (
      SELECT time_bucket(INTERVAL 15 MINUTE, e.ts) - g.k * INTERVAL 15 MINUTE
               AS window_start,
             e.event_type
      FROM events e CROSS JOIN g
      WHERE e.ts >= TIMESTAMP '1970-01-01'  -- pre-epoch ingest guard
    )
    SELECT window_start, event_type, count(*) AS n_events
    FROM w, mx
    GROUP BY window_start, event_type, mx.m
    HAVING window_start + INTERVAL 1 HOUR <= mx.m
    """,
)(run_sliding_runtime)


@register(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join: events enriched
    with the customer dimension (broadcast — the dimension is loaded once
    per executor and every micro-batch probes it map-side, no stream
    shuffle), then per-segment totals in exact cents. The streaming
    runtime (streams.enrich_stream) runs the same join on the file-replay
    source; this twin is its oracle-checkable shape."""
    e = t(spark, sf_dir, "events")
    c = t(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
    )


# The actual streaming-dedup runtime, oracle-checked:
# dropDuplicatesWithinWatermark emits each (user, type) key exactly once
# per watermark horizon through the state store; the emitted key set
# equals SELECT DISTINCT — the batch contract the runtime must reproduce
# (the surviving representative row is engine-internal, so only keys are
# projected). Complements stream_dedup_by_key (the batch twin with
# first-event semantics) with the real state-store path.
register(
    "stream_runtime_dedup",
    oracle="""SELECT DISTINCT user_id, event_type FROM events
    WHERE ts >= TIMESTAMP '1970-01-01'  -- pre-epoch ingest guard""",
)(run_dedup_runtime)


# The actual stream-stream interval-join RUNTIME, oracle-checked
# (companion to the ``stream_interval_join`` batch twin): inner-join
# emission is immediate-on-match, so availableNow over the replayed
# fixture emits exactly the batch join's rows and a plain SQL oracle
# hash-gates the runtime end-to-end — state stores, watermark
# bookkeeping, and all. Completes the registered runtime family
# (tumbling / session / sliding / dedup / interval join).
register(
    "stream_runtime_interval",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
           c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase'
          AND ts >= TIMESTAMP '1970-01-01') p
    JOIN (SELECT * FROM events WHERE event_type = 'click'
          AND ts >= TIMESTAMP '1970-01-01') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts <= p.ts
    """,
)(run_interval_join_runtime)


# The Spark 4 chained-stateful RUNTIME (interval join → downstream
# tumbling aggregate, two state stores in one query), oracle-gated on
# the watermark-final window set: every hour bucket older than (max
# event time − 2 h) must be emitted with the exact batch count.
# Completes the registered streaming-runtime family with the
# multi-stateful pipeline shape.
register(
    "stream_runtime_chained",
    oracle="""
    WITH mx AS (SELECT max(ts) - INTERVAL 2 HOUR AS cutoff FROM events)
    SELECT time_bucket(INTERVAL 1 HOUR, p.ts) AS hour,
           count(*) AS n_attributed
    FROM (SELECT * FROM events WHERE event_type = 'purchase'
          AND ts >= TIMESTAMP '1970-01-01') p
    JOIN (SELECT * FROM events WHERE event_type = 'click'
          AND ts >= TIMESTAMP '1970-01-01') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts <= p.ts, mx
    WHERE time_bucket(INTERVAL 1 HOUR, p.ts) < mx.cutoff
    GROUP BY 1
    """,
)(run_chained_stateful_runtime)
