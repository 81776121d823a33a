"""r7: the pre-epoch ingest guard on the streaming replay source.

A fresh streaming query's event-time watermark initializes at the epoch,
so a watermarked stateful operator drops a pre-1970 row as
late-beyond-horizon ON ARRIVAL — engine-internal behavior an oracle
cannot model portably. streams.events_stream therefore filters
ts >= 1970-01-01 explicitly (symmetric with the runtime oracles); the
BATCH read keeps every row. Surfaced by the perturbed-fixture
timestamp axis (`scripts/sweep.py perturbed`)."""

from __future__ import annotations

import glob
import shutil

from pyspark.sql import functions as F

from bishe_gpu_database_spark.operators.relational import t
from bishe_gpu_database_spark.streaming.streams import events_stream, run_to_memory

PRE_ID = 990001  # 1969-12-31 23:30:00 — pre-epoch, negative unix micros
POST_ID = 990002  # 1970-01-01 00:00:00.000001 — 1 µs past the epoch


def _mini_fixture(spark, tmp_path) -> str:
    base = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(3)
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

    stream = events_stream(spark, sf_dir)
    q = run_to_memory(stream.select("event_id"), "r7_guard_test")
    q.awaitTermination()
    streamed = {r[0] for r in spark.table("r7_guard_test").collect()}

    batch = {r[0] for r in t(spark, sf_dir, "events").select("event_id").collect()}

    assert PRE_ID not in streamed  # unprocessable by any watermarked stream
    assert POST_ID in streamed  # epoch+1µs is watermark-era data
    assert PRE_ID in batch and POST_ID in batch  # batch semantics untouched
    assert streamed == batch - {PRE_ID}


def test_stateless_path_keeps_pre_epoch(spark, tmp_path):
    """r8 ADVICE: the guard is scoped to watermarked consumers. A
    stateless runtime (no watermark — e.g. the stream-static enrich join)
    opts out via guard_pre_epoch=False and must see EVERY row the batch
    read sees, pre-epoch included, so its batch-twin oracle (which keeps
    pre-1970 rows) never diverges from the runtime."""
    sf_dir = _mini_fixture(spark, tmp_path)

    stream = events_stream(spark, sf_dir, guard_pre_epoch=False)
    q = run_to_memory(stream.select("event_id"), "r8_stateless_guard_test")
    q.awaitTermination()
    streamed = {r[0] for r in spark.table("r8_stateless_guard_test").collect()}

    batch = {r[0] for r in t(spark, sf_dir, "events").select("event_id").collect()}

    assert PRE_ID in streamed and POST_ID in streamed
    assert streamed == batch
