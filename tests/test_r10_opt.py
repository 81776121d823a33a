"""r10 optimization-round internals: the new code paths this round
introduced must be pinned by focused tests (round rule: add a test when
an optimization changes an operator's internals).

- ``run_batch``'s rewritten fast path: the two existence-probe branches
  (full-key prefetch under ``_KEY_PREFETCH_BOUND`` vs bounded broadcast
  probe above it) must produce identical drains — the same table, the
  same schedule.
- The shared drain core's Spark job budget: the fast path and a warm
  streamed step, counted by job group; the stream's oversized-batch
  fallback does not re-checkpoint its table; and the distributed path
  leaves the session conf as it found it.
"""

from __future__ import annotations

import pytest

from bishe_gpu_database_spark.aria import engine
from bishe_gpu_database_spark.aria.engine import (
    StreamDrainState,
    run_batch,
    stream_drain_step,
)
from bishe_gpu_database_spark.aria.workload import gen_kv, gen_ops
from tests.conftest import job_count as _job_count


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("reorder", [True, False])
def test_fastpath_probe_branches_agree(spark, monkeypatch, reorder):
    """Full-key prefetch (table count <= bound) vs bounded broadcast
    probe (bound forced to 0) must drain identically."""
    kv = gen_kv(spark, n_keys=300)
    # Key domain 2x the table so the probe genuinely drops misses.
    ops = gen_ops(
        spark, n_txns=25, max_ops=8, n_keys=600, write_pct=60, seed="r10pb"
    )
    kv_prefetch, stats_prefetch = run_batch(kv, ops, reorder=reorder)
    monkeypatch.setattr(engine, "_KEY_PREFETCH_BOUND", 0)
    kv_probe, stats_probe = run_batch(kv, ops, reorder=reorder)
    assert stats_prefetch == stats_probe
    assert _rows(kv_prefetch) == _rows(kv_probe)


def test_fastpath_empty_ops(spark):
    """A zero-op batch drains to the unchanged table with no epochs on
    the single-collect fast path."""
    kv = gen_kv(spark, n_keys=20)
    ops = gen_ops(spark, n_txns=5, max_ops=4, n_keys=20, seed="r10e").filter(
        "tid < 0"
    )
    out, stats = run_batch(kv, ops, reorder=True)
    assert stats == []
    assert _rows(out) == _rows(kv)


def test_drain_core_job_counts(spark, monkeypatch):
    """The drain core's job budget on the reference-shaped batch (2,000
    keys, 150 txns, 4 ops partitions on local[4]): the fast path pays the
    one bounded collect plus the existence policy (count + key collect
    on the prefetch branch, count + broadcast probe on the probe branch),
    and a warm streamed step with every key cached pays the collect
    alone — one job, because the collect scans all partitions in one
    pass."""
    kv = gen_kv(spark, n_keys=2000)
    ops = gen_ops(spark, n_txns=150, max_ops=30, n_keys=2000, write_pct=40)
    assert _job_count(spark, "jc-prefetch", lambda: run_batch(kv, ops)) <= 4
    with monkeypatch.context() as m:
        m.setattr(engine, "_KEY_PREFETCH_BOUND", 0)
        assert _job_count(spark, "jc-probe", lambda: run_batch(kv, ops)) <= 5
    state = StreamDrainState(kv)
    stream_drain_step(state, ops)
    assert state.all_keys_cached
    assert _job_count(spark, "jc-warm", lambda: stream_drain_step(state, ops)) == 1


def test_stream_fallback_reuses_checkpointed_base(spark):
    """The stream's oversized-batch fallback hands the distributed drain
    base0, which is already checkpointed, so it pays one job fewer than
    the same drain through run_batch, which must checkpoint the table it
    is given."""
    kv = gen_kv(spark, n_keys=200)
    ops = gen_ops(spark, n_txns=20, max_ops=6, n_keys=200, seed="r10fb")
    state = StreamDrainState(kv)
    base0 = state.base0
    fallback = _job_count(
        spark,
        "jc-fallback",
        lambda: stream_drain_step(state, ops, driver_sim_threshold=0),
    )
    batch = _job_count(
        spark,
        "jc-batch",
        lambda: run_batch(base0, ops, driver_sim_threshold=0)[0].localCheckpoint(),
    )
    assert fallback < batch


_DRAIN_CONF_KEYS = (
    "spark.sql.limit.initialNumPartitions",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
)


@pytest.mark.parametrize("unset_first", [False, True])
def test_distributed_drain_restores_session_conf(spark, unset_first):
    """The distributed path scopes three session confs around its collect
    and epoch loop; afterwards each reads exactly as before — including
    a key that was unset before, which must come back unset rather than
    pinned to the value the drain saw."""
    kv = gen_kv(spark, n_keys=200)
    ops = gen_ops(spark, n_txns=20, max_ops=6, n_keys=200, seed="r10conf")
    session = {k: spark.conf.get(k, None) for k in _DRAIN_CONF_KEYS}
    try:
        if unset_first:
            for k in _DRAIN_CONF_KEYS:
                spark.conf.unset(k)
        before = {k: spark.conf.get(k, None) for k in _DRAIN_CONF_KEYS}
        out, stats = run_batch(kv, ops, driver_sim_threshold=0)
        assert stats
        assert {k: spark.conf.get(k, None) for k in _DRAIN_CONF_KEYS} == before
        out.count()
    finally:
        for k, v in session.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
