"""r7: the driver-sim drain fast path (engine.py:_drain_rows) must be
bit-identical to the distributed epoch loop — same schedule (per-epoch
verdicts on original tids), same stats, same final table — across both
install policies, insert-on-miss, contention levels, and a batch whose
every transaction trivially commits. ``driver_sim_threshold=0`` forces
the distributed loop; the default takes the fast path at test sizes."""

from __future__ import annotations

import pytest

from bishe_gpu_database_spark.aria.engine import run_batch
from bishe_gpu_database_spark.aria.workload import gen_kv, gen_ops


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


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


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
    ).withColumn("k", ops_k_shift())
    fast_kv, fast_stats = run_batch(kv, ops, reorder=True)
    dist_kv, dist_stats = run_batch(kv, ops, reorder=True, driver_sim_threshold=0)
    assert fast_stats == dist_stats
    assert len(fast_stats) == 1
    assert fast_stats[0]["n_aborted"] == 0
    assert all(c for _, c in fast_stats[0]["verdicts"])
    assert _rows(fast_kv) == _rows(dist_kv) == _rows(kv)


def ops_k_shift():
    from pyspark.sql import functions as F

    return F.col("k") + F.lit(10_000)
