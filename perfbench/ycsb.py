"""The Aria ingest workloads: one closed-loop client submits 200-txn batches
(ops per txn U(0, 30), 40% writes) through ``stream_drain_step``; the next
batch goes out when the previous one has committed and installed.

- ``ycsb_stream_hot``: a 199,999-key table, keys hot-skewed over 1..20,000.
  The table fits the existence cache and the memtable never folds, so a
  batch costs one bounded collect plus the contended Python schedule.
- ``ycsb_stream_large``: a 300,000-key table above a 100,000-key existence
  cache, keys uniform, memtable folded every few batches. Its first measured
  request is a backlog batch drained by ``run_batch`` through the
  distributed epoch loop; the stream then resumes on the returned table.

Batches are generated from the seed, written as parquet (one directory per
batch, like a file stream source) and read back per trigger. After the
timed region a pure-Python replay of the Aria rules checks every batch's
epoch schedule and the final value of every key the ops touched.
"""

from __future__ import annotations

import gc
import os
import time
from contextlib import nullcontext
from dataclasses import dataclass

import pyarrow.parquet as pq

import oracle
from harness import MIN_BEYOND_TAIL, PathGuardError, median, peak_rss_mb, reset_peak_rss, tail

TXNS, MAX_OPS, WRITE_PCT = 200, 30, 40
CHUNK = 64  # batches generated per ops-pool chunk
WARM_BATCHES = 3


@dataclass(frozen=True)
class Shape:
    n_keys: int
    key_space: int
    skew: bool
    flush_threshold: int
    tail_pct: float
    tail_min_beyond: int = MIN_BEYOND_TAIL
    tail_kind: str | None = None  # read the tail over samples of this kind only
    key_cache_bound: int = 1_000_000  # the engine default
    bulk_txns: int = 0
    bulk_threshold: int = 0


SHAPES = {
    "ycsb_stream_hot": Shape(199_999, 20_000, True, 500_000, 85.0),
    # The memtable folds every fourth batch, so a run has only 4-8 flush
    # batches among 15-30 samples: too few for any fixed percentile of all
    # samples to stay among them. The tail is the median flush batch, the
    # stall a client sees when the memtable folds.
    "ycsb_stream_large": Shape(
        300_000,
        300_000,
        False,
        4_000,
        50.0,
        tail_min_beyond=1,
        tail_kind="flush",
        key_cache_bound=100_000,
        bulk_txns=2_000,
        bulk_threshold=20_000,
    ),
}


def latency_tail(shape: Shape, lat: list[float], kinds: list[str]) -> tuple[float, float, int, int]:
    """(value, percentile, samples beyond it, samples it is read over)."""
    samples = [w for w, k in zip(lat, kinds) if shape.tail_kind in (None, k)]
    return (*tail(samples, shape.tail_pct, shape.tail_min_beyond), len(samples))


class OpsPool:
    """Seeded batches on disk, generated a chunk at a time on demand."""

    def __init__(self, spark, shape: Shape, seed_str: str, root: str) -> None:
        self.spark, self.shape, self.seed_str, self.root = spark, shape, seed_str, root
        self.n = 0
        self.schema = None

    def _gen(self, tag: str, n_txns: int, n_batches: int, first: int) -> None:
        """One gen_ops draw split into ``n_batches`` batches of ``n_txns``
        transactions (tids renumbered 1..n_txns), one parquet file each."""
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import from_arrow_schema

        from bishe_gpu_database_spark.aria.workload import gen_ops

        ops = gen_ops(
            self.spark,
            n_txns=n_txns * n_batches,
            max_ops=MAX_OPS,
            n_keys=self.shape.key_space,
            write_pct=WRITE_PCT,
            seed=f"{self.seed_str}-{tag}",
            skew=self.shape.skew,
        ).toArrow()
        ops = ops.sort_by([("tid", "ascending"), ("seq", "ascending")])
        self.schema = self.schema or from_arrow_schema(ops.schema)
        b = pc.divide(pc.subtract(ops["tid"], 1), n_txns)
        for j in range(n_batches):
            part = ops.filter(pc.equal(b, j))
            tid = pc.cast(pc.subtract(part["tid"], j * n_txns), part.schema.field("tid").type)
            part = part.set_column(part.schema.get_field_index("tid"), "tid", tid)
            path = self._path(first + j) if tag != "bulk" else self._bulk_path()
            os.makedirs(path, exist_ok=True)
            pq.write_table(part, os.path.join(path, "part-0.parquet"))

    def _path(self, i: int) -> str:
        return os.path.join(self.root, f"b{i}")

    def _bulk_path(self) -> str:
        return os.path.join(self.root, "bulk")

    def batch(self, i: int):
        while i >= self.n:
            self._gen(f"c{self.n}", TXNS, CHUNK, self.n)
            self.n += CHUNK
        return self.spark.read.schema(self.schema).parquet(self._path(i))

    def bulk(self):
        self._gen("bulk", self.shape.bulk_txns, 1, 0)
        return self.spark.read.schema(self.schema).parquet(self._bulk_path())

    def rows(self, i: int | None) -> list[oracle.Op]:
        """Batch ``i`` (None: the bulk batch) read back without Spark."""
        path = self._bulk_path() if i is None else self._path(i)
        return oracle.ops_from_table(pq.read_table(path))


def run(workload: str, spark, tracer, seed: int, seconds: float, log) -> dict:
    from bishe_gpu_database_spark.aria.engine import StreamDrainState, run_batch, stream_drain_step
    from bishe_gpu_database_spark.aria.workload import gen_kv

    shape = SHAPES[workload]
    seed_str = f"{seed}-{workload}"
    work = os.path.join(os.environ["TMPDIR"], "ops")

    kv_seed = f"{seed_str}-kv"

    def new_state(kv):
        return StreamDrainState(
            kv, flush_threshold=shape.flush_threshold, key_cache_bound=shape.key_cache_bound
        )

    t0 = time.perf_counter()
    state = new_state(gen_kv(spark, shape.n_keys, seed=kv_seed))
    ingest_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    pool = OpsPool(spark, shape, seed_str, work)
    pool.batch(0)
    bulk_df = pool.bulk() if shape.bulk_txns else None
    gen_s = time.perf_counter() - t0

    # (batch index or None for the bulk batch, engine per-epoch stats)
    history: list[tuple[int | None, list[dict]]] = []
    t0 = time.perf_counter()
    for i in range(WARM_BATCHES):
        history.append((i, stream_drain_step(state, pool.batch(i), reorder=True)))
    warmup_s = time.perf_counter() - t0
    next_batch = WARM_BATCHES
    states = [state]

    def counters() -> tuple[int, int, float]:
        return (
            sum(s.probe_jobs for s in states),
            sum(s.flush_jobs for s in states),
            sum(s.flush_secs for s in states),
        )

    probe0, flush0, flush_s0 = counters()
    lat: list[float] = []
    kinds: list[str] = []  # per sample: "bulk", "flush" or "step"
    # (wall, traced, span, engine stats, flushed)
    trig: list[tuple[float, bool, dict | None, list[dict], bool]] = []
    bulk = None
    paused = 0.0
    gc.collect()
    rss_reset = reset_peak_rss()
    start = time.perf_counter()
    if bulk_df is not None:
        with tracer.span("bulk.drain") as sp_drain:
            t1 = time.perf_counter()
            new_kv, bulk_stats = run_batch(
                state.table(), bulk_df, reorder=True, driver_sim_threshold=shape.bulk_threshold
            )
            t2 = time.perf_counter()
        with tracer.span("bulk.merge"):
            state = new_state(new_kv)
            t3 = time.perf_counter()
        states.append(state)
        history.append((None, bulk_stats))
        lat.append(t3 - t1)
        kinds.append("bulk")
        bulk = {"drain_s": t2 - t1, "merge_s": t3 - t2, "stats": bulk_stats, "span": sp_drain}
    stream_start = time.perf_counter()
    while time.perf_counter() - stream_start - paused < seconds:
        p0 = time.perf_counter()
        ops = pool.batch(next_batch)  # may generate a chunk: not measured
        paused += time.perf_counter() - p0
        traced = tracer.enabled and len(trig) % 2 == 0
        flushes = state.flush_jobs
        t1 = time.perf_counter()
        with tracer.span("trigger", batch=next_batch) if traced else nullcontext() as sp:
            stats = stream_drain_step(state, ops, reorder=True)
        wall = time.perf_counter() - t1
        lat.append(wall)
        kinds.append("flush" if state.flush_jobs > flushes else "step")
        trig.append((wall, traced, sp, stats, state.flush_jobs > flushes))
        history.append((next_batch, stats))
        next_batch += 1
    probe1, flush1, flush_s1 = counters()
    memtable_keys = len(state.delta_mem)
    known_keys = len(state.known_exist) + len(state.known_missing)
    with tracer.span("final_table"):
        t1 = time.perf_counter()
        n_final = state.table().count()
        final_s = time.perf_counter() - t1
    measured_s = time.perf_counter() - start - paused
    peak_rss = peak_rss_mb()

    # Path guards: each workload must stay on the path it exists to measure.
    if workload == "ycsb_stream_hot":
        if probe1 or flush1 or not state.all_keys_cached:
            raise PathGuardError(
                f"hot path left: probe_jobs={probe1} flush_jobs={flush1} "
                f"all_keys_cached={state.all_keys_cached}"
            )
    else:
        if any(s.all_keys_cached for s in states):
            raise PathGuardError("probe path not engaged: all keys cached")
        if flush1 - flush0 < 2:
            raise PathGuardError(f"flush path not engaged: {flush1 - flush0} flushes in the run")
        bulk_rows = len(pool.rows(None))
        if bulk_rows <= shape.bulk_threshold:
            raise PathGuardError(
                f"distributed loop not engaged: {bulk_rows} op rows <= {shape.bulk_threshold}"
            )

    # Output checks, outside the timed region.
    failed, attempted, why = oracle.check(
        spark, state, history, pool, shape.n_keys, kv_seed, n_final
    )
    for w in why:
        log(f"check failed: {w}")

    committed = sum(e["n_committed"] for _, stats in history[WARM_BATCHES:] for e in stats)
    tail_v, tail_pct, beyond, tail_n = latency_tail(shape, lat, kinds)
    out = {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "throughput_per_s": (committed / measured_s, "1/s"),
            "latency_p50_s": (median(lat), "s"),
            "latency_tail_s": (tail_v, "s"),
            "peak_rss_mb": (peak_rss, "MiB"),
        },
        "setup": {"gen_s": gen_s, "ingest_s": ingest_s, "warmup_s": warmup_s},
        "stamp": {
            "samples": len(lat),
            "latencies_s": lat,
            "sample_kinds": kinds,
            "tail_of": shape.tail_kind or "all",
            "tail_samples": tail_n,
            "peak_rss_reset": rss_reset,
            "batches": len(trig),
            "tail_percentile": tail_pct,
            "samples_beyond_tail": beyond,
            "txn_per_s": committed / measured_s,
            "committed_txns": committed,
            "probe_jobs": probe1 - probe0,
            "flush_jobs": flush1 - flush0,
            "final_rows": n_final,
            "bulk_epochs": len(bulk["stats"]) if bulk else 0,
            "bulk_drain_s": bulk["drain_s"] if bulk else 0.0,
            "bulk_merge_s": bulk["merge_s"] if bulk else 0.0,
            "check_failures": why,
        },
    }
    if tracer.enabled:
        n = len(trig)
        stats_all = [e for _, _, _, stats, _ in trig for e in stats]
        # Overhead from triggers that did not fold the memtable, so the
        # traced/untraced alternation cannot line up with the flush period.
        tr = [w for w, t, _, _, f in trig if t and not f]
        un = [w for w, t, _, _, f in trig if not t and not f]
        spans = [sp for _, t, sp, _, _ in trig if t]
        layers = {
            "aria.step_jobs": sum(sp["jobs"] for sp in spans) / len(spans),
            "aria.epochs_per_batch": len(stats_all) / n,
            "aria.attempts_per_commit": sum(e["n_txns"] for e in stats_all)
            / max(1, sum(e["n_committed"] for e in stats_all)),
            "aria.probe_jobs": (probe1 - probe0) / n,
            "aria.flush_count": flush1 - flush0,
            "aria.flush_s": flush_s1 - flush_s0,
            "aria.final_table_s": final_s,
            "aria.memtable_keys": memtable_keys,
            "aria.known_keys": known_keys,
            "trace.overhead_ratio": median(tr) / median(un),
        }
        if bulk:
            epochs = len(bulk["stats"])
            layers.update(
                {
                    "aria.drain_s": bulk["drain_s"],
                    "aria.epochs": epochs,
                    "aria.epoch_s": bulk["drain_s"] / epochs,
                    "aria.jobs_per_epoch": bulk["span"]["jobs"] / epochs,
                    "aria.merge_s": bulk["merge_s"],
                }
            )
        out["layers"] = layers
    return out
