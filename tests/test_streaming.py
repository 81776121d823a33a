"""Structured Streaming runtime tests: each stream's availableNow drain
must equal its oracle-checked batch twin (SURVEY.md §5.2), and the
foreachBatch Aria driver must equal the batch engine. Also pinned here:
the replay source's pre-epoch ingest guard, the data-derived state width
and its conf restore, and the checkpoint width guard."""

from __future__ import annotations

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from bishe_gpu_database_spark.aria.workload import gen_kv, gen_ops, kv_checksum
from bishe_gpu_database_spark.operators import relational
from bishe_gpu_database_spark.session import scoped_conf
from bishe_gpu_database_spark.streaming import streams
from bishe_gpu_database_spark.streaming.batch_twins import stream_tumbling_window
from tests.conftest import SF_SMALL


def _drain_to_rows(spark, df, name, mode="append"):
    """The tests' one memory-sink drain (the engine's ``_drain_to_memory``
    is append-only; these tests also need update mode): availableNow into
    memory table ``name``; returns the table and the query's last
    progress."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name), q.lastProgress


def test_tumbling_stream_equals_batch_twin(spark):
    stream = streams.events_stream(spark, SF_SMALL)
    # Complete-ish comparison: with availableNow over one file, append mode
    # emits only closed windows; use update-free aggregation into memory
    # with watermark far in the past so every window closes at end-of-data.
    agg = streams.tumbling_counts(stream, watermark="0 seconds")
    got, _ = _drain_to_rows(spark, agg, "tumbling_test")
    # Append mode emits a window only once the watermark passes its end;
    # the window containing the final event never closes — exclude it.
    max_ts = (
        relational.events_ts_to_micros(spark.read.parquet(f"{SF_SMALL}/events.parquet"))
        .select(F.max("ts").alias("m"))
        .collect()[0]["m"]
    )
    batch = (
        stream_tumbling_window(spark, SF_SMALL)
        .filter(F.col("window_start") + F.expr("INTERVAL 1 HOUR") <= F.lit(max_ts))
        .groupBy("window_start", "event_type")
        .agg(F.sum("n_events").alias("n_events"))
    )
    g = {(r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()}
    assert g == b


def test_stream_dedup_matches_batch_distinct(spark):
    stream = streams.events_stream(spark, SF_SMALL)
    deduped = streams.dedup_stream(stream, watermark="365 days")
    got, _ = _drain_to_rows(spark, deduped, "dedup_test")
    n_got = got.select("user_id", "event_type").distinct().count()
    assert got.count() == n_got  # one row per key survived
    batch_n = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert n_got == batch_n


def test_dedup_within_watermark(spark):
    """dropDuplicatesWithinWatermark: state for a key is held only for the
    watermark horizon (bounded state — the 100 TB streaming-dedup shape,
    vs. dropDuplicates' unbounded state)."""
    stream = streams.events_stream(spark, SF_SMALL)
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    got, _ = _drain_to_rows(spark, deduped, "dedup_wm_test")
    # Within one availableNow batch every (user,type) key dedupes to one
    # survivor per watermark horizon — never more rows than exact distinct
    # over horizon-sized buckets, never fewer than global distinct.
    lower = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert got.count() >= lower
    assert got.select("user_id", "event_type").distinct().count() == lower


def test_stateful_running_totals_match_batch(spark):
    stream = streams.events_stream(spark, SF_SMALL)
    got, _ = _drain_to_rows(
        spark, streams.user_running_totals(stream), "stateful_test", mode="update"
    )
    # Update mode with one availableNow batch → one row per user, holding
    # the final state; must equal the batch aggregate.
    latest = {r["user_id"]: r["n_events"] for r in got.collect()}
    batch = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expect = {r["user_id"]: r["n"] for r in batch.collect()}
    assert latest == expect


def test_stream_stream_interval_join_matches_batch(spark):
    """Stream-stream inner join with watermarks + time-interval condition:
    each purchase joined to same-user clicks in the preceding 30 minutes.
    Must equal the identical join on the static frame."""
    stream = streams.events_stream(spark, SF_SMALL)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), "event_id")
        .withWatermark("p_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.user_id)
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("event_id", "c_ts")
    got, _ = _drain_to_rows(spark, joined, "ssjoin_test")

    e = relational.events_ts_to_micros(spark.read.parquet(f"{SF_SMALL}/events.parquet"))
    bc = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("c_ts")
    )
    bp = e.filter(F.col("event_type") == "purchase").select("user_id", F.col("ts").alias("p_ts"), "event_id")
    batch = bp.join(
        bc,
        (bp.user_id == bc.cu)
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    assert got.count() == batch.count()


def test_python_datasource_matches_workload_gen(spark):
    """The custom 'ycsb' Python DataSource must produce byte-identical
    rows to the JVM-side workload generator (same md5 derivation)."""
    from bishe_gpu_database_spark.sources.ycsb_source import YcsbDataSource

    spark.dataSource.register(YcsbDataSource)
    src = (
        spark.read.format("ycsb")
        .option("n_keys", 200)
        .option("seed", "xk")
        .option("partitions", 5)
        .load()
    )
    expect = gen_kv(spark, 200, seed="xk")
    assert [(f.name, f.dataType) for f in src.schema] == [
        (f.name, f.dataType) for f in expect.schema
    ]
    assert sorted(map(tuple, src.collect())) == sorted(map(tuple, expect.collect()))


def test_watermark_drops_late_rows(spark):
    """Late-data semantics: a row arriving in a later micro-batch, older
    than the advanced watermark, must NOT update its (closed) window."""
    import os
    import tempfile

    import time
    from datetime import datetime

    d = tempfile.mkdtemp(prefix="late_events_")
    schema = "ts timestamp, user_id bigint"
    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    # Batch 0: two events far apart — the watermark will advance to
    # max(ts) - 10m. Batch 1: keeps the query moving (the watermark a
    # batch computes takes effect one batch later). Batch 2: a late row
    # for the long-closed 00:00 window — must be dropped, not merged.
    spark.createDataFrame(
        [(ts("2024-01-01 00:05:00"), 1), (ts("2024-01-01 03:00:00"), 2)], schema
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b1"))
    time.sleep(1.2)  # distinct mtimes: the file source orders batches by them
    spark.createDataFrame([(ts("2024-01-01 03:10:00"), 9)], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "b2"))
    time.sleep(1.2)
    spark.createDataFrame([(ts("2024-01-01 00:10:00"), 3)], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "b3"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one file per micro-batch
        .parquet(os.path.join(d, "*"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("ws"), "n")
    )
    rows, _ = _drain_to_rows(spark, agg, "late_test")
    got = {r["ws"]: r["n"] for r in rows.collect()}
    # The 00:00 window closed with exactly ONE row; the late row was dropped.
    assert got.get("2024-01-01 00:00:00") == 1, got


def test_ycsb_txn_stream_drives_aria(spark):
    """Capstone: the custom streaming DataSource emits deterministic
    transaction micro-batches; foreachBatch drains each through the Aria
    engine. Final table must equal feeding the same batches to run_batch
    directly — streamed execution changes nothing but the transport."""
    from bishe_gpu_database_spark.aria.engine import run_batch
    from bishe_gpu_database_spark.sources.ycsb_source import (
        OPS_SCHEMA,
        YcsbTxnStreamDataSource,
        txn_batch_rows,
    )

    spark.dataSource.register(YcsbTxnStreamDataSource)
    opts = dict(n_txns=10, max_ops=4, n_keys=50, write_pct=50, seed="cap", max_batches=2)

    kv0 = gen_kv(spark, 50, seed="cap_kv")
    ops_stream = (
        spark.readStream.format("ycsb_txns")
        .options(**{k: str(v) for k, v in opts.items()})
        .load()
    )
    # Python micro-batch sources don't support availableNow (it falls back
    # to one giant batch), so drive a processing-time trigger and stop
    # once both batches have drained.
    import time

    state = {"kv": kv0.localCheckpoint()}
    log = []

    def process(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        new_kv, stats = run_batch(state["kv"], batch_df, reorder=True)
        state["kv"] = new_kv
        log.append({"batch_id": batch_id, "epochs": stats})

    q = ops_stream.writeStream.foreachBatch(process).trigger(
        processingTime="1 second"
    ).start()
    deadline = time.time() + 180
    while len(log) < 2 and time.time() < deadline:
        time.sleep(1)
    q.stop()
    q.awaitTermination()
    final_kv = state["kv"]
    assert len(log) == 2  # two micro-batches drained

    expect_kv = kv0
    for b in range(2):
        rows = txn_batch_rows(
            b, opts["n_txns"], opts["max_ops"], opts["n_keys"], opts["write_pct"], opts["seed"]
        )
        ops_df = spark.createDataFrame(rows, OPS_SCHEMA)
        expect_kv, _ = run_batch(expect_kv, ops_df, reorder=True)
    assert kv_checksum(final_kv) == kv_checksum(expect_kv)


def test_aria_foreach_batch_equals_batch_engine(spark):
    from bishe_gpu_database_spark.aria.engine import run_batch

    kv_df = gen_kv(spark, 100, seed="stream_kv")
    ops_df = gen_ops(spark, n_txns=20, max_ops=5, n_keys=100, seed="stream_ops")

    expected_kv, expected_stats = run_batch(kv_df, ops_df, reorder=True)

    # Stream the same ops as one micro-batch through foreachBatch.
    import tempfile

    d = tempfile.mkdtemp(prefix="aria_ops_")
    ops_df.write.mode("overwrite").parquet(d)
    ops_stream = spark.readStream.schema(ops_df.schema).parquet(d)
    final_kv, log = streams.aria_foreach_batch(spark, kv_df, ops_stream, reorder=True)

    assert len(log) == 1
    assert log[0]["epochs"] == expected_stats
    assert kv_checksum(final_kv) == kv_checksum(expected_kv)


def test_transform_with_state_matches_batch(spark):
    """transformWithStateInPandas (Spark 4 typed-state API) carries exact
    integer state across micro-batches: final per-user (count, cents sum)
    equals the batch aggregate bit-for-bit.

    The TWS state-server protocol needs protobuf, which this container
    doesn't ship — skip there; runs on any standard Spark 4 install."""
    pytest.importorskip("google.protobuf")
    stream = streams.events_stream(spark, SF_SMALL)
    got, _ = _drain_to_rows(
        spark, streams.user_stats_tws(stream), "tws_test", mode="update"
    )
    latest = {r["user_id"]: (r["n_events"], r["total_cents"]) for r in got.collect()}
    batch = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
    )
    expect = {r["user_id"]: (r["n"], r["cents"]) for r in batch.collect()}
    assert latest == expect


def test_stream_static_enrich_matches_batch_join(spark):
    """The stream-static join runtime (file replay ⋈ broadcast customer)
    emits exactly the batch inner join — per-event, not just aggregates."""
    got = streams.run_enrich_runtime(spark, SF_SMALL)
    e = relational.t(spark, SF_SMALL, "events")
    c = relational.t(spark, SF_SMALL, "customer")
    batch = e.join(c, e.user_id == c.c_custkey).select(
        "event_id", "user_id", "c_mktsegment", "value"
    )
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b
    assert len(g) == batch.count()


def test_stream_stream_outer_interval_join_emits_nulls(spark):
    """LEFT OUTER stream-stream interval join: matched purchases emit
    immediately; purchases with NO click in the window must still emit
    (with nulls) once the watermark passes their eviction point — the
    stateful behavior that distinguishes outer from inner. availableNow
    runs a final no-data batch that advances the watermark to the end of
    input, flushing the unmatched state."""
    stream = streams.events_stream(spark, SF_SMALL)
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
        "leftOuter",
    ).select("event_id", "c_ts")
    got, _ = _drain_to_rows(spark, joined, "ssjoin_outer_test")

    e = relational.events_ts_to_micros(spark.read.parquet(f"{SF_SMALL}/events.parquet"))
    bc = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("c_ts")
    )
    bp = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), "event_id"
    )
    batch = bp.join(
        bc,
        (bp.user_id == bc.cu)
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left",
    )
    # matched rows identical to the batch inner join
    assert got.filter(F.col("c_ts").isNotNull()).count() == batch.filter(
        F.col("c_ts").isNotNull()
    ).count()
    # null emission: a LEFT row is only evictable (and thus null-emitted)
    # once the watermark passes its join horizon; purchases inside the
    # final 30min + 10min-delay tail legitimately terminate still in
    # state (observed eviction lag ~100min: delay + join horizon + batch
    # granularity). Every unmatched purchase OUTSIDE a 2h tail must have been
    # flushed by availableNow's final watermark advance; and nothing
    # beyond the batch's unmatched set may ever appear.
    max_ts = e.agg(F.max("ts")).first()[0]
    flushable = batch.filter(
        F.col("c_ts").isNull()
        & (F.col("p_ts") < F.lit(max_ts) - F.expr("INTERVAL 2 HOURS"))
    ).count()
    n_nulls = got.filter(F.col("c_ts").isNull()).count()
    assert flushable <= n_nulls <= batch.filter(F.col("c_ts").isNull()).count()


def test_rocksdb_state_store_matches_default(spark):
    """The RocksDB state-store provider (the 100 TB state backend: state
    lives off-heap/on-disk instead of the executor heap) must produce
    results identical to the default HDFS-backed provider for the same
    stateful aggregation."""
    stream = streams.events_stream(spark, SF_SMALL)
    agg = streams.tumbling_counts(stream, watermark="0 seconds")
    prov = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    # The provider is a SESSION conf, not a writeStream option — an
    # .option() here is silently ignored and the test would compare the
    # default provider against itself.
    with scoped_conf(spark, {"spark.sql.streaming.stateStore.providerClass": prov}):
        rows, progress = _drain_to_rows(spark, agg, "rocksdb_test")
    # prove RocksDB actually ran (its custom metrics appear in progress)
    assert "rocksdb" in str(progress).lower()
    got = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in rows.collect()
    }
    ref = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in _drain_to_rows(spark, agg, "rocksdb_ref")[0].collect()
    }
    assert got == ref and len(got) > 0


def test_checkpoint_restart_exactly_once(spark):
    """Fault-tolerance contract: a windowed aggregation with a checkpoint
    location, stopped and restarted over a source that gained new files,
    must process every input exactly once — the restarted run resumes
    from carried state (no double-count of batch-1 rows, no dropped
    state), emitting each closed window exactly once across both runs."""
    import os
    import tempfile
    from datetime import datetime

    d = tempfile.mkdtemp(prefix="ckpt_src_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_loc_")
    out = tempfile.mkdtemp(prefix="ckpt_out_")
    schema = "ts timestamp, user_id bigint"
    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    spark.createDataFrame(
        [(ts("2024-02-01 00:05:00"), 1), (ts("2024-02-01 00:20:00"), 2)], schema
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b1"))

    def run_once():
        src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(
            d + "/*"
        )
        agg = (
            src.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # new files arrive while the query is down; the 03:30 sentinel pushes
    # the watermark far enough to close both real windows
    spark.createDataFrame(
        [(ts("2024-02-01 00:40:00"), 3), (ts("2024-02-01 01:10:00"), 4),
         (ts("2024-02-01 03:30:00"), 5)], schema
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b2"))
    run_once()
    rows = sorted(
        (r["window_start"], r["n"]) for r in spark.read.parquet(out).collect()
    )
    # exactly-once: 00:00 window counts batch-1 state PLUS the 00:40 row
    # (3 total, emitted once); 01:00 window emitted once with its 1 row.
    assert rows == [
        (ts("2024-02-01 00:00:00"), 3),
        (ts("2024-02-01 01:00:00"), 1),
    ]


def test_chained_stateful_join_then_window_agg(spark):
    """Spark 4 chained stateful operators: a stream-stream interval join
    whose output feeds a downstream tumbling window aggregate in the SAME
    streaming query — two state stores in one pipeline (the pattern
    pre-3.4 Spark rejected outright). Inner join so every emitted row is
    watermark-final; the downstream hourly purchase-with-attribution
    count is checked window-for-window against the batch equivalent,
    excluding windows the final watermark leaves open."""
    stream = streams.events_stream(spark, SF_SMALL)
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
    got, _ = _drain_to_rows(spark, hourly, "chained_stateful_test")

    e = relational.events_ts_to_micros(
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
    )
    bc = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("c_ts")
    )
    bp = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), "event_id"
    )
    batch = (
        bp.join(
            bc,
            (bp.user_id == bc.cu)
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts")),
            "inner",
        )
        .groupBy(F.window("p_ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_attributed"))
        .select(F.col("window.start").alias("hour"), "n_attributed")
    )
    # The streaming query's effective watermark is delayed by both
    # stateful stages; compare only hours strictly older than 2h before
    # end-of-data (join horizon + delay + window), which MUST be final.
    max_ts = e.agg(F.max("ts")).first()[0]
    import datetime

    cutoff = max_ts - datetime.timedelta(hours=2)
    got_final = {
        (r.hour, r.n_attributed)
        for r in got.filter(F.col("hour") < F.lit(cutoff)).collect()
    }
    want_final = {
        (r.hour, r.n_attributed)
        for r in batch.filter(F.col("hour") < F.lit(cutoff)).collect()
    }
    assert got_final == want_final
    assert want_final, "fixture must produce at least one closed hour"
    # and nothing outside the batch truth may ever appear
    got_all = {(r.hour, r.n_attributed) for r in got.collect()}
    want_all = {(r.hour, r.n_attributed) for r in batch.collect()}
    assert got_all <= want_all


# -- Pre-epoch ingest guard ------------------------------------------------
# A fresh streaming query's event-time watermark initializes at the epoch,
# so a watermarked stateful operator drops a pre-1970 row as
# late-beyond-horizon ON ARRIVAL — engine-internal behavior an oracle
# cannot model portably. events_stream therefore filters ts >= 1970-01-01
# explicitly (symmetric with the runtime oracles); the BATCH read keeps
# every row. Surfaced by the perturbed-fixture timestamp axis
# (`scripts/sweep.py perturbed`).

PRE_ID = 990001  # 1969-12-31 23:30:00 — pre-epoch, negative unix micros
POST_ID = 990002  # 1970-01-01 00:00:00.000001 — 1 µs past the epoch


def _mini_fixture(spark, tmp_path) -> str:
    base = spark.read.parquet(f"{SF_SMALL}/events.parquet").limit(3)
    first = base.limit(1)
    extra = first.select(
        F.lit(PRE_ID).alias("event_id"),
        F.to_timestamp(F.lit("1969-12-31 23:30:00")).alias("ts"),
        F.lit(PRE_ID).cast("long").alias("user_id"),
        "event_type",
        F.lit(1.0).alias("value"),
        "props",
    ).unionByName(
        first.select(
            F.lit(POST_ID).alias("event_id"),
            F.to_timestamp(F.lit("1970-01-01 00:00:00.000001")).alias("ts"),
            F.lit(POST_ID).cast("long").alias("user_id"),
            "event_type",
            F.lit(2.0).alias("value"),
            "props",
        )
    )
    out = tmp_path / "evw"
    base.unionByName(extra).coalesce(1).write.parquet(str(out))
    part = glob.glob(str(out / "part-*.parquet"))[0]
    # the fixture layout expects events.parquet as a single FILE
    shutil.copy(part, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_stream_guards_pre_epoch_batch_keeps_it(spark, tmp_path):
    sf_dir = _mini_fixture(spark, tmp_path)

    stream = streams.events_stream(spark, sf_dir)
    rows, _ = _drain_to_rows(spark, stream.select("event_id"), "r7_guard_test")
    streamed = {r[0] for r in rows.collect()}

    batch = {r[0] for r in relational.t(spark, sf_dir, "events").select("event_id").collect()}

    assert PRE_ID not in streamed  # unprocessable by any watermarked stream
    assert POST_ID in streamed  # epoch+1µs is watermark-era data
    assert PRE_ID in batch and POST_ID in batch  # batch semantics untouched
    assert streamed == batch - {PRE_ID}


def test_stateless_path_keeps_pre_epoch(spark, tmp_path):
    """The guard is scoped to watermarked consumers. A stateless runtime
    (no watermark — e.g. the stream-static enrich join) opts out via
    guard_pre_epoch=False and must see EVERY row the batch read sees,
    pre-epoch included, so its batch-twin oracle (which keeps pre-1970
    rows) never diverges from the runtime."""
    sf_dir = _mini_fixture(spark, tmp_path)

    stream = streams.events_stream(spark, sf_dir, guard_pre_epoch=False)
    rows, _ = _drain_to_rows(spark, stream.select("event_id"), "r8_stateless_guard_test")
    streamed = {r[0] for r in rows.collect()}

    batch = {r[0] for r in relational.t(spark, sf_dir, "events").select("event_id").collect()}

    assert PRE_ID in streamed and POST_ID in streamed
    assert streamed == batch


# -- State width: derived from the source, scoped, guarded on resume -------


def test_stream_state_width_derivation(spark, tmp_path):
    session_w = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # A few-KB source derives ONE state partition (the fixture case).
    (tmp_path / "events.parquet").write_bytes(b"x" * 1024)
    assert streams.stream_state_width(spark, str(tmp_path)) == 1

    # A source past one 64 MB chunk derives ceil(size/64MB), capped at
    # the session width (sparse file keeps the test cheap).
    big = tmp_path / "big"
    big.mkdir()
    with open(big / "events.parquet", "wb") as fh:
        fh.truncate(200 << 20)  # 200 MB -> ceil = 4 partitions
    assert streams.stream_state_width(spark, str(big)) == min(session_w, 4)

    # Missing source: fall back to the session width (no guess).
    assert streams.stream_state_width(spark, str(tmp_path / "nope")) == session_w


@pytest.mark.parametrize("unset_first", [False, True])
def test_stream_state_width_restores_session_conf(spark, tmp_path, unset_first):
    """_drain_to_memory must restore spark.sql.shuffle.partitions even
    though the drain runs at the derived width — including a width that
    was unset before, which must come back unset rather than pinned."""
    key = "spark.sql.shuffle.partitions"
    session = spark.conf.get(key, None)
    try:
        if unset_first:
            spark.conf.unset(key)
        before = spark.conf.get(key, None)
        src = tmp_path / "stream_src"
        src.mkdir()
        spark.range(5).select(
            F.col("id").alias("k"), F.col("id").cast("double").alias("v")
        ).coalesce(1).write.mode("overwrite").parquet(str(src))
        stream = spark.readStream.schema("k bigint, v double").parquet(str(src))
        dd = stream.dropDuplicates(["k"])  # stateful, append-legal
        # SF_SMALL's events file derives width 1, not the session's.
        out = streams._drain_to_memory(spark, dd.select("k"), "width_restore_probe", SF_SMALL)
        assert spark.conf.get(key, None) == before
        assert len(out.collect()) == 5
    finally:
        if session is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, session)


def test_width_guard_fires_on_mismatch_and_passes_on_match(spark, sf_dir, tmp_path):
    """Spark persists ``spark.sql.shuffle.partitions`` into a stateful
    query's checkpoint (state-store count == partition count; state
    cannot be repartitioned later) and on restart silently KEEPS the
    checkpointed width. ``streams.assert_checkpoint_width`` turns that
    into a loud startup error with remediation."""
    ckpt = str(tmp_path / "ckpt_tumbling")
    width0 = spark.conf.get("spark.sql.shuffle.partitions")

    # fresh checkpoint: nothing pinned yet, guard is a no-op
    assert streams.assert_checkpoint_width(spark, ckpt) is None

    # first run commits offsets that pin the session width
    streams.run_tumbling_runtime(spark, sf_dir, checkpoint_location=ckpt)
    assert streams.assert_checkpoint_width(spark, ckpt) == int(width0)

    # deliberately mismatch the session width: the guard must fail with
    # remediation BEFORE the query would start
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(int(width0) + 7))
        with pytest.raises(streams.CheckpointWidthMismatch, match="fresh checkpoint"):
            streams.assert_checkpoint_width(spark, ckpt)
        # the runtime helper itself runs the guard when resuming
        with pytest.raises(streams.CheckpointWidthMismatch):
            streams.run_tumbling_runtime(spark, sf_dir, checkpoint_location=ckpt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width0)

    # width restored: resume is allowed again
    assert streams.assert_checkpoint_width(spark, ckpt) == int(width0)


# -- One replay source, one drain ------------------------------------------


def test_runtimes_leave_no_query_or_width_behind(spark):
    """Every registered streaming runtime, and the enrich runtime, has
    terminated its query and put the session width back when it
    returns."""
    from bishe_gpu_database_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    runtimes = [
        spec.fn for name, spec in sorted(REGISTRY.items()) if name.startswith("stream_runtime_")
    ]
    assert len(runtimes) == 6
    key = "spark.sql.shuffle.partitions"
    for fn in [*runtimes, streams.run_enrich_runtime]:
        before = spark.conf.get(key, None)
        fn(spark, SF_SMALL).collect()
        assert spark.streams.active == [], fn.__name__
        assert spark.conf.get(key, None) == before, fn.__name__


def test_events_stream_replays_the_relayout_copy(spark):
    """events_stream reads exactly the files t(..., "events") scans."""
    scanned = set(relational.t(spark, SF_SMALL, "events").inputFiles())
    stream = streams.events_stream(spark, SF_SMALL, guard_pre_epoch=False)
    rows, _ = _drain_to_rows(spark, stream.select(F.input_file_name().alias("f")), "replay_files")
    assert {r.f for r in rows.collect()} == scanned
