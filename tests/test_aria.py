"""Aria engine correctness: DataFrame implementation vs the serial
Python oracle (SURVEY.md §5.2 items 2-3), both install policies.

- The batch drain and a single epoch (``run_batch(max_epochs=1)``)
  against ``tests.serial_oracle``.
- The driver-side drain (``_drain_rows``) must be bit-identical to the
  distributed epoch loop — same schedule (per-epoch verdicts on
  original tids), same stats, same final table — across both install
  policies, insert-on-miss, contention levels, both existence-policy
  branches and a batch whose every transaction trivially commits.
  ``driver_sim_threshold=0`` forces the distributed loop; the default
  takes the driver path at test sizes.
- The drain core's Spark job budget, and the distributed path leaves
  the session conf as it found it.
- The streamed drain: the carried ``StreamDrainState`` (base0-once +
  driver memtable + key-existence cache) must be bit-identical to
  folding ``run_batch`` over the same micro-batches, through the
  oversized-batch fallback, memtable flushes and the cache bounds
  (``max_known`` eviction keeps the current batch's keys; the
  all-keys-cached branch never grows ``known_missing``).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bishe_gpu_database_spark.aria import engine
from bishe_gpu_database_spark.aria.engine import (
    StreamDrainState,
    run_batch,
    stream_drain_step,
)
from bishe_gpu_database_spark.aria.workload import gen_kv, gen_ops
from tests.conftest import job_count as _job_count
from tests.serial_oracle import Op, drain
from tests.serial_oracle import epoch as serial_epoch

N_KEYS = 200
N_TXNS = 40
MAX_OPS = 8

KV_SCHEMA = "k bigint, " + ", ".join(f"f{j} string" for j in range(10))
OPS_SCHEMA = (
    "tid int, seq int, k bigint, is_update boolean, "
    + ", ".join(f"new_f{j} string" for j in range(10))
)

# The two drain paths: the driver-side drain at test sizes, and the
# distributed epoch loop forced by a zero threshold.
DRAIN_PATHS = ({}, {"driver_sim_threshold": 0})


def _collect_workload(spark, seed: str):
    kv_df = gen_kv(spark, N_KEYS, seed=f"kv_{seed}")
    ops_df = gen_ops(
        spark, n_txns=N_TXNS, max_ops=MAX_OPS, n_keys=N_KEYS + 50, write_pct=40, seed=f"ops_{seed}"
    )
    # n_keys+50 in ops => some ops target missing keys (the reference
    # silently skips those, ref: src/database/ycsb/TrancM_func.cuh:32-34).
    kv = {r["k"]: tuple(r[f"f{j}"] for j in range(10)) for r in kv_df.collect()}
    ops = [
        Op(
            r["tid"],
            r["seq"],
            r["k"],
            r["is_update"],
            tuple(r[f"new_f{j}"] for j in range(10)) if r["is_update"] else None,
        )
        for r in ops_df.collect()
    ]
    return kv_df, ops_df, kv, ops


def _kv_as_dict(kv_df):
    return {r["k"]: tuple(r[f"f{j}"] for j in range(10)) for r in kv_df.collect()}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _checksum(df):
    cols = sorted(df.columns)
    return (
        df.select(F.sha2(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]), 256).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long")).alias("s"))
        .collect()[0][0],
        df.count(),
    )


def _kv_df(spark, keys):
    return spark.createDataFrame(
        [(k, *(f"init{k}_{j}" for j in range(10))) for k in keys], KV_SCHEMA
    )


def _ops_df(spark, ops):
    """ops: list of (tid, seq, k, is_update, tag) — tag names the staged
    value so assertions can spot which write won."""
    rows = [
        (tid, seq, k, upd, *((f"{tag}_{j}" for j in range(10)) if upd else [None] * 10))
        for tid, seq, k, upd, tag in ops
    ]
    return spark.createDataFrame(rows, OPS_SCHEMA)


# --- batch drain and single epoch vs the serial oracle ----------------


@pytest.mark.parametrize("reorder", [False, True])
@pytest.mark.parametrize("seed", ["s1", "s2"])
def test_drain_matches_serial_oracle(spark, reorder, seed):
    kv_df, ops_df, kv, ops = _collect_workload(spark, seed)
    expect_kv, expect_stats = drain(kv, ops, reorder=reorder)
    got_kv_df, got_stats = run_batch(kv_df, ops_df, reorder=reorder)
    assert got_stats == expect_stats
    assert _kv_as_dict(got_kv_df) == expect_kv


@pytest.mark.parametrize("reorder", [False, True])
def test_drain_insert_missing_matches_serial_oracle(spark, reorder):
    """The op-parallel insert-on-miss variant (ref: src/database/ycsb/
    operation_parallel.cuh:72-83): writes to absent keys create them."""
    kv_df, ops_df, kv, ops = _collect_workload(spark, f"ins_{reorder}")
    expect_kv, expect_stats = drain(kv, ops, reorder=reorder, insert_missing=True)
    got_kv_df, got_stats = run_batch(kv_df, ops_df, reorder=reorder, insert_missing=True)
    assert got_stats == expect_stats
    assert _kv_as_dict(got_kv_df) == expect_kv
    # The workload targets keys beyond the table, so inserts DID happen.
    assert len(expect_kv) > N_KEYS


@pytest.mark.parametrize("reorder", [False, True])
def test_single_epoch_verdicts_match_oracle(spark, reorder):
    """One epoch is ``run_batch(max_epochs=1)``: its verdicts and the
    table it installs equal the serial oracle's epoch, on both drain
    paths."""
    kv_df, ops_df, kv, ops = _collect_workload(spark, "s3")
    expect_kv, committed, _ = serial_epoch(kv, ops, reorder=reorder)
    all_tids = sorted({o.tid for o in ops})
    for path in DRAIN_PATHS:
        got_kv_df, stats = run_batch(kv_df, ops_df, reorder=reorder, max_epochs=1, **path)
        assert len(stats) == 1
        got = dict(stats[0]["verdicts"])
        # Txns with no found ops trivially commit.
        got_committed = sorted(t for t in all_tids if got.get(t, True))
        assert got_committed == committed
        assert _kv_as_dict(got_kv_df) == expect_kv


def test_tid1_always_commits_and_drain_bounded(spark):
    kv_df = gen_kv(spark, 20, seed="tiny")
    # Pathological contention: every txn writes key 1.
    n = 8
    rows = [(tid, 0, 1, True) + tuple(f"v{tid}_{j}" for j in range(10)) for tid in range(1, n + 1)]
    ops_df = spark.createDataFrame(rows, OPS_SCHEMA)
    final_kv, stats = run_batch(kv_df, ops_df, reorder=True)
    # One committer (the min tid) per epoch → exactly n epochs.
    assert len(stats) == n
    assert all(s["n_committed"] == 1 for s in stats)
    # Last committed writer wins: tid n (renumbered each epoch, original last).
    row = final_kv.filter(F.col("k") == 1).collect()[0]
    assert row["f0"] == f"v{n}_0"


def test_snapshot_read_semantics(spark):
    """Reads see the pre-epoch snapshot, never in-epoch writes
    (ref: Storage is written but never re-read within Execute,
    src/database/ycsb/TrancM_func.cuh:24-60), on both drain paths."""
    kv_df = spark.createDataFrame([(1, *[f"old{j}" for j in range(10)])], KV_SCHEMA)
    # tid 1 writes k=1; tid 2 reads k=1 → RAW for tid 2, aborts (plain).
    rows = [
        (1, 0, 1, True) + tuple(f"new{j}" for j in range(10)),
        (2, 0, 1, False) + tuple([None] * 10),
    ]
    ops_df = spark.createDataFrame(rows, OPS_SCHEMA)
    for path in DRAIN_PATHS:
        _, stats = run_batch(kv_df, ops_df, reorder=False, max_epochs=1, **path)
        assert dict(stats[0]["verdicts"]) == {1: True, 2: False}
        _, stats2 = run_batch(kv_df, ops_df, reorder=True, max_epochs=1, **path)
        # With reordering, the pure read (no WAR) commits reading the snapshot.
        assert dict(stats2[0]["verdicts"]) == {1: True, 2: True}


@pytest.mark.parametrize("reorder", [False, True])
def test_skewed_workload_drain_matches_oracle_with_more_contention(spark, reorder):
    """The power-law (YCSB-zipfian-shaped) key distribution must (a)
    still drain to the exact serial-oracle state — determinism is
    distribution-independent — and (b) produce strictly more aborts
    than the uniform draw of the same batch shape, proving the skew
    actually concentrates reservations on hot keys."""
    kv_df = gen_kv(spark, N_KEYS, seed="kv_zipf")

    def load(skew: bool):
        ops_df = gen_ops(
            spark, n_txns=N_TXNS, max_ops=MAX_OPS, n_keys=N_KEYS, write_pct=40,
            seed="ops_zipf", skew=skew,
        )
        ops = [
            Op(
                r["tid"], r["seq"], r["k"], r["is_update"],
                tuple(r[f"new_f{j}"] for j in range(10)) if r["is_update"] else None,
            )
            for r in ops_df.collect()
        ]
        return ops_df, ops

    kv = {r["k"]: tuple(r[f"f{j}"] for j in range(10)) for r in kv_df.collect()}
    skew_df, skew_ops = load(True)
    expect_kv, expect_stats = drain(kv, skew_ops, reorder=reorder)
    got_kv_df, got_stats = run_batch(kv_df, skew_df, reorder=reorder)
    assert got_stats == expect_stats
    assert _kv_as_dict(got_kv_df) == expect_kv

    uni_df, uni_ops = load(False)
    _, uni_stats = drain(kv, uni_ops, reorder=reorder)
    aborts = lambda st: sum(e["n_aborted"] for e in st)  # noqa: E731
    assert aborts(expect_stats) > aborts(uni_stats), (
        aborts(expect_stats), aborts(uni_stats),
    )


# --- driver-side drain vs the distributed epoch loop ------------------


def _drain_pair(spark, *, n_txns, reorder, insert_missing=False, skew=False,
                n_keys=500, seed="fp"):
    kv = gen_kv(spark, n_keys=n_keys)
    ops = gen_ops(
        spark, n_txns=n_txns, max_ops=10, n_keys=n_keys, write_pct=60,
        seed=seed, skew=skew,
    )
    fast_kv, fast_stats = run_batch(
        kv, ops, reorder=reorder, insert_missing=insert_missing
    )
    dist_kv, dist_stats = run_batch(
        kv, ops, reorder=reorder, insert_missing=insert_missing,
        driver_sim_threshold=0,
    )
    return fast_kv, fast_stats, dist_kv, dist_stats


@pytest.mark.parametrize("reorder", [True, False])
@pytest.mark.parametrize("skew", [False, True])
def test_fastpath_matches_distributed(spark, reorder, skew):
    fast_kv, fast_stats, dist_kv, dist_stats = _drain_pair(
        spark, n_txns=40, reorder=reorder, skew=skew,
        seed=f"fp_{reorder}_{skew}",
    )
    assert fast_stats == dist_stats  # full schedule: verdicts, counts, epochs
    assert _rows(fast_kv) == _rows(dist_kv)


def test_fastpath_insert_missing(spark):
    # Ops drawn over a key domain 4x the table: misses insert on the fly
    # (the reference's op-parallel Execute) — both paths must agree on
    # which keys get created and with which staged values.
    kv = gen_kv(spark, n_keys=200)
    ops = gen_ops(
        spark, n_txns=30, max_ops=8, n_keys=800, write_pct=80, seed="fp_ins"
    )
    fast_kv, fast_stats = run_batch(kv, ops, reorder=True, insert_missing=True)
    dist_kv, dist_stats = run_batch(
        kv, ops, reorder=True, insert_missing=True, driver_sim_threshold=0
    )
    assert fast_stats == dist_stats
    assert _rows(fast_kv) == _rows(dist_kv)
    assert fast_kv.count() > 200  # some keys genuinely inserted


def test_fastpath_trivial_commits_recorded(spark):
    # Every op targets a missing key: the probe drops all ops, every tid
    # trivially commits in epoch 1 with no installs — on both paths.
    kv = gen_kv(spark, n_keys=50)
    ops = gen_ops(
        spark, n_txns=10, max_ops=5, n_keys=50, write_pct=50, seed="fp_triv"
    ).withColumn("k", F.col("k") + F.lit(10_000))
    fast_kv, fast_stats = run_batch(kv, ops, reorder=True)
    dist_kv, dist_stats = run_batch(kv, ops, reorder=True, driver_sim_threshold=0)
    assert fast_stats == dist_stats
    assert len(fast_stats) == 1
    assert fast_stats[0]["n_aborted"] == 0
    assert all(c for _, c in fast_stats[0]["verdicts"])
    assert _rows(fast_kv) == _rows(dist_kv) == _rows(kv)


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


# --- job budget and session conf --------------------------------------


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


# --- streamed drain: state carry vs the run_batch fold ----------------


def test_multi_trigger_state_carry_equals_run_batch_fold(spark):
    kv = gen_kv(spark, n_keys=300, seed="r8_kv")
    state = StreamDrainState(kv)
    expect_kv = kv
    for i in range(4):
        ops = gen_ops(
            spark, n_txns=25, max_ops=6, n_keys=300, write_pct=50, seed=f"r8_mb{i}"
        )
        stats_stream = stream_drain_step(state, ops, reorder=True)
        expect_kv, stats_batch = run_batch(expect_kv, ops, reorder=True)
        assert stats_stream == stats_batch, f"schedule diverged at trigger {i}"
    assert _checksum(state.table()) == _checksum(expect_kv)


def test_probed_key_cache_and_missing_key_writes(spark):
    """Ops on keys absent from the table: txns still commit (the write
    is a no-op, ref TrancM_func.cuh:32-34), the table never gains the
    key, and the second identical batch runs with a fully-warm key cache
    (no new unknowns)."""
    kv = gen_kv(spark, n_keys=50, seed="r8_kv2")
    state = StreamDrainState(kv)
    expect_kv = kv
    ops = gen_ops(
        spark, n_txns=10, max_ops=4, n_keys=200, write_pct=80, seed="r8_miss"
    )  # keys 50..199 are missing from the table
    for i in range(2):
        stats_stream = stream_drain_step(state, ops, reorder=True)
        expect_kv, stats_batch = run_batch(expect_kv, ops, reorder=True)
        assert stats_stream == stats_batch, f"trigger {i}"
        if i == 0:
            warm_exist = set(state.known_exist)
            warm_missing = set(state.known_missing)
        else:  # second pass: cache already answers every key
            assert state.known_exist == warm_exist
            assert state.known_missing == warm_missing
    # The all-keys-cached path records NO misses (known_missing would
    # otherwise grow without bound) — prove the fixture exercised absent
    # keys from the op stream itself instead.
    op_keys = {r["k"] for r in ops.select("k").distinct().collect()}
    assert op_keys - state.known_exist, "fixture should exercise missing keys"
    assert not state.known_missing
    assert _checksum(state.table()) == _checksum(expect_kv)
    # no key creation: table keys are exactly base0's
    assert state.table().count() == kv.count()


def test_oversized_batch_falls_back_to_distributed_loop(spark):
    kv = gen_kv(spark, n_keys=100, seed="r8_kv3")
    small = gen_ops(spark, n_txns=8, max_ops=4, n_keys=100, seed="r8_s1")
    big = gen_ops(spark, n_txns=12, max_ops=6, n_keys=100, seed="r8_big")
    later = gen_ops(spark, n_txns=8, max_ops=4, n_keys=100, seed="r8_s2")

    state = StreamDrainState(kv)
    expect_kv = kv
    for ops, threshold in ((small, 100_000), (big, 10), (later, 100_000)):
        stats_stream = stream_drain_step(
            state, ops, reorder=True, driver_sim_threshold=threshold
        )
        expect_kv, stats_batch = run_batch(expect_kv, ops, reorder=True)
        if threshold == 10:  # the oversized batch flushed the memtable
            assert state.delta_mem == {}
        assert stats_stream == stats_batch
    assert state.delta_mem  # rebuilt by the post-fallback small batch
    assert _checksum(state.table()) == _checksum(expect_kv)


def test_memtable_flush_preserves_equivalence(spark):
    """A tiny flush_threshold forces mid-stream memtable folds into
    base0; the final table must still equal the run_batch fold."""
    kv = gen_kv(spark, n_keys=300, seed="r8_kvf")
    state = StreamDrainState(kv, flush_threshold=40)
    expect_kv = kv
    flushed = False
    for i in range(4):
        ops = gen_ops(
            spark, n_txns=25, max_ops=6, n_keys=300, write_pct=60, seed=f"r8_f{i}"
        )
        stats_stream = stream_drain_step(state, ops, reorder=True)
        expect_kv, stats_batch = run_batch(expect_kv, ops, reorder=True)
        assert stats_stream == stats_batch
        flushed = flushed or not state.delta_mem
    assert flushed or len(state.delta_mem) <= 40 + 300  # threshold exceeded -> flushes happened
    assert _checksum(state.table()) == _checksum(expect_kv)


def test_empty_batch_is_a_cheap_noop(spark):
    kv = gen_kv(spark, n_keys=20, seed="r8_kv4")
    state = StreamDrainState(kv)
    empty = gen_ops(spark, n_txns=5, max_ops=3, n_keys=20, seed="r8_e").filter(
        F.lit(False)
    )
    assert stream_drain_step(state, empty) == []
    assert state.delta_mem == {}
    assert _checksum(state.table()) == _checksum(kv)


# --- streamed drain: key-existence cache bounds -----------------------


def test_max_known_eviction_keeps_current_batch_keys(spark):
    """Eviction must keep the current batch's keys: base {1,2,3},
    key_cache_bound=0 (force the broadcast-probe path), max_known=2 (trip
    eviction on trigger 2), update key 1 to A1 in trigger 1, then touch
    keys 1+2+3 with key 1 updated to A2 in trigger 2. Final state must
    equal the run_batch fold (key 1 = A2), not the memtable's stale A1 —
    which a wholesale clear() of the cache produced."""
    kv = _kv_df(spark, [1, 2, 3])
    state = StreamDrainState(kv, key_cache_bound=0, max_known=2)
    t1 = _ops_df(spark, [(1, 0, 1, True, "A1")])
    t2 = _ops_df(
        spark,
        [(1, 0, 2, False, ""), (1, 1, 3, False, ""), (2, 0, 1, True, "A2")],
    )
    expect_kv = kv
    for ops in (t1, t2):
        stats_stream = stream_drain_step(state, ops, reorder=True)
        expect_kv, stats_batch = run_batch(expect_kv, ops, reorder=True)
        assert stats_stream == stats_batch
    got = _kv_as_dict(state.table())
    want = _kv_as_dict(expect_kv)
    assert got[1][0] == "A2_0", f"eviction dropped the trigger-2 write: {got[1][0]}"
    assert got == want


def test_max_known_eviction_bounds_cache_between_batches(spark):
    """Distinct-key triggers against a large-table (probe-path) state
    with max_known=4: the cache must stay bounded by (batch keys +
    max_known slack) instead of accumulating every key ever probed —
    while every trigger still matches the run_batch fold."""
    kv = _kv_df(spark, range(1, 31))
    state = StreamDrainState(kv, key_cache_bound=0, max_known=4)
    expect_kv = kv
    for i in range(5):
        keys = [1 + 6 * i, 2 + 6 * i, 3 + 6 * i]  # 3 fresh keys per trigger
        ops = _ops_df(
            spark, [(1, s, k, True, f"t{i}k{k}") for s, k in enumerate(keys)]
        )
        stats_stream = stream_drain_step(state, ops, reorder=True)
        expect_kv, stats_batch = run_batch(expect_kv, ops, reorder=True)
        assert stats_stream == stats_batch
        assert len(state.known_exist) + len(state.known_missing) <= 4 + len(keys)
    # the large-key-universe regime (base count > key_cache_bound): every
    # trigger of fresh keys costs exactly ONE broadcast probe job, and the
    # all-keys prefetch never engages.
    assert not state.all_keys_cached
    assert state.probe_jobs == 5
    assert _kv_as_dict(state.table()) == _kv_as_dict(expect_kv)


def test_all_keys_cached_known_missing_stays_empty(spark):
    """With the whole (small) key set prefetched, probing a stream of
    never-seen ABSENT keys must not grow known_missing — existence is
    answered by known_exist membership alone, and results still match
    the fold."""
    kv = _kv_df(spark, [1, 2, 3])
    state = StreamDrainState(kv)  # default bound >> 3 -> prefetch path
    expect_kv = kv
    for i in range(3):
        absent = 100 + 10 * i
        ops = _ops_df(
            spark,
            [(1, 0, absent, True, f"ghost{i}"), (2, 0, 1, True, f"t{i}")],
        )
        stats_stream = stream_drain_step(state, ops, reorder=True)
        expect_kv, stats_batch = run_batch(expect_kv, ops, reorder=True)
        assert stats_stream == stats_batch
        assert state.all_keys_cached
        assert not state.known_missing, "known_missing grew on the cached path"
    assert _kv_as_dict(state.table()) == _kv_as_dict(expect_kv)
    assert state.table().count() == 3  # ghost keys never created


CACHE_N_KEYS = 8

trigger_strategy = st.lists(  # one trigger = list of txns = list of ops
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=CACHE_N_KEYS + 3),  # some keys absent
            st.booleans(),
        ),
        min_size=1,
        max_size=3,
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    triggers=st.lists(trigger_strategy, min_size=2, max_size=3),
    max_known=st.integers(min_value=0, max_value=5),
    cache_all=st.booleans(),
    reorder=st.booleans(),
)
def test_bounded_cache_stream_matches_run_batch_fold(
    spark, triggers, max_known, cache_all, reorder
):
    """Random multi-trigger workloads with tiny ``max_known`` /
    ``key_cache_bound`` against the run_batch fold oracle."""
    kv = _kv_df(spark, range(1, CACHE_N_KEYS + 1))
    state = StreamDrainState(
        kv,
        key_cache_bound=(10**9 if cache_all else 0),
        max_known=max_known,
        flush_threshold=3,  # also exercise mid-stream flushes
    )
    expect_kv = kv
    for ti, trig in enumerate(triggers):
        rows = [
            (tid0 + 1, seq, k, upd, f"x{ti}_{tid0}_{seq}")
            for tid0, txn in enumerate(trig)
            for seq, (k, upd) in enumerate(txn)
        ]
        ops = _ops_df(spark, rows)
        stats_stream = stream_drain_step(state, ops, reorder=reorder)
        expect_kv, stats_batch = run_batch(expect_kv, ops, reorder=reorder)
        assert stats_stream == stats_batch, f"schedule diverged at trigger {ti}"
    assert _kv_as_dict(state.table()) == _kv_as_dict(expect_kv)
