"""Aria deterministic concurrency control as set-oriented DataFrame jobs.

Reference semantics reproduced (spec, not the C++ quirks — SURVEY.md §2.1):

- Execute: each transaction reads a snapshot of the table and stages its
  writes privately (ref: src/database/ycsb/TrancM_func.cuh:21-63). Missing
  keys are silently skipped (ref: TrancM_func.cuh:32-34). DataFrames are
  immutable, so "read the pre-epoch version" is automatic.
- Reserve: per-key read/write reservations where the smallest Tid wins the
  atomicCAS race (ref: src/cuda/metadatahelper.cuh:36-90). All races
  settled ≡ ``groupBy(k).agg(min(tid))`` — no atomics needed.
- Commit (dependency analysis): RAW iff some read key has a smaller
  writer; WAR iff some written key has a smaller reader; WAW iff some
  written key has a smaller writer (ref: TrancM_func.cuh:125-164).
- Install: plain Aria aborts on ``waw ∨ raw``
  (ref: TrancM_func.cuh:207-227); with deterministic reordering, on
  ``waw ∨ (raw ∧ war)`` (ref: TrancM_func.cuh:181-205). Committed writes
  overwrite the table; WAW-freedom guarantees at most one committed
  writer per key. Within a transaction, the last write (max seq) to a key
  wins — the ordered per-key replay of the reference's Key-Op-Chain
  (ref: src/database/ycsb/key_op_chain.cuh:161-189).
- Collect: aborted transactions are compacted, re-numbered 1…m, and
  retried next epoch (ref: src/database/ycsb/TransctionManager.cuh:165-185).
  Tid 1 always commits, so the batch drains in ≤ n epochs.

Scale: one epoch = two shuffles of the ops table (by k, then by tid) plus
one shuffle of the delta for install. The KV table itself co-partitions
on k across epochs; ``localCheckpoint`` truncates the iterative lineage
(the Spark analogue of the reference's per-epoch device↔host memcpy,
ref: src/cuda/hashTable.cuh:165-200).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from bishe_gpu_database_spark.session import scoped_conf

# Tables whose KEY COUNT fits this bound answer the existence policy by
# collecting the whole key set (one narrow collect) instead of a broadcast
# probe; StreamDrainState.key_cache_bound defaults to it.
_KEY_PREFETCH_BOUND = 1_000_000


def analyze_dependencies(ops: DataFrame, kv: DataFrame) -> DataFrame:
    """Execute + Reserve + Commit: per-tid (raw, war, waw) flags.

    ``ops`` columns: tid, seq, k, is_update, new_* staged values.
    ``kv`` columns:  k, <value columns>.
    """
    return _flags_from_found(_probe(kv, ops))


def _probe(kv: DataFrame, ops: DataFrame) -> DataFrame:
    """Execute's snapshot probe: the ops whose key exists in ``kv``. Ops
    on missing keys are skipped exactly like the reference's failed hash
    probe (ref: TrancM_func.cuh:32-34). Join direction is the scale
    contract: the TABLE is the unbounded side (100 TB design point) while
    the ops batch is capacity-bounded (ref: TransctionManager.cuh:15), so
    the batch is broadcast and the table streams — no table-sized
    shuffle, and the epoch loop (which runs with AQE off) can never fall
    back to a sort-merge join of the whole key set. kv keys are unique
    (it is the keyed table), so each found op comes back once."""
    return kv.select("k").join(F.broadcast(ops), "k", "inner")


def _flags_from_found(found: DataFrame) -> DataFrame:
    """Reserve + Commit over ops that already passed the Execute probe
    (every row participates). The drain loop calls this directly — its
    batch is probed ONCE up front, not per epoch."""
    # Reserve: all settled CAS races at once. Every op reads; updates write
    # (read set append ref: TrancM_func.cuh:43-45, write set :55-57).
    # Per-key minima as unbounded window aggregates over ONE shuffle on k —
    # the groupBy(k)+re-join formulation costs a second pass over the same
    # shuffle; the epoch loop runs this every epoch, so stage count is the
    # latency budget (batches are capacity-bounded, never large).
    wk = W.partitionBy("k")
    joined = found.withColumn("rts", F.min("tid").over(wk)).withColumn(
        "wts", F.min(F.when(F.col("is_update"), F.col("tid"))).over(wk)
    )

    # Commit: dependency flags. "A smaller Tid reserved it" ≡ min-over-key < my tid.
    return joined.groupBy("tid").agg(
        F.max(
            F.when(F.col("wts").isNotNull() & (F.col("wts") < F.col("tid")), True).otherwise(False)
        ).alias("raw"),
        F.max(
            F.when(F.col("is_update") & (F.col("rts") < F.col("tid")), True).otherwise(False)
        ).alias("war"),
        F.max(
            F.when(
                F.col("is_update") & F.col("wts").isNotNull() & (F.col("wts") < F.col("tid")),
                True,
            ).otherwise(False)
        ).alias("waw"),
    )


def _abort_cond(reorder: bool):
    """The Install abort rule as a Column over (raw, war, waw) flags:
    ``waw ∨ (raw ∧ war)`` with deterministic reordering, else ``waw ∨ raw``
    (ref: TrancM_func.cuh:181-227)."""
    if reorder:
        return F.col("waw") | (F.col("raw") & F.col("war"))
    return F.col("waw") | F.col("raw")


def _overlay(base: DataFrame, winners: dict | DataFrame) -> DataFrame:
    """The install merge ``base ⟕ delta ∪ delta`` (lazy): each delta row
    replaces its key's base row. A driver-held delta — ``{k: value
    tuple}`` in base's value-column order — is broadcast, so the merge
    never shuffles the (100 TB design point) base table; a DataFrame
    delta is merged as given."""
    if isinstance(winners, dict):
        if not winners:
            return base
        from pyspark.sql.types import StructField, StructType

        cols = ["k"] + [c for c in base.columns if c != "k"]
        # Nullable throughout: under insert_missing a NULL key can win.
        schema = StructType([StructField(c, base.schema[c].dataType, True) for c in cols])
        winners = F.broadcast(
            base.sparkSession.createDataFrame(
                [(k, *vals) for k, vals in winners.items()], schema
            )
        )
    return base.join(winners, "k", "left_anti").unionByName(winners)


def run_batch(
    kv: DataFrame,
    ops: DataFrame,
    *,
    reorder: bool = True,
    insert_missing: bool = False,
    max_epochs: int = 64,
    driver_sim_threshold: int = 100_000,
) -> tuple[DataFrame, list[dict]]:
    """Drain a batch: run epochs until no transaction remains, re-numbering
    aborted Tids densely 1…m each round (ref: TransctionManager.cuh:176-184,
    outer loop ref: src/database/ycsb/db.h:104-109). Returns (final kv
    DataFrame, per-epoch stats); the final table is a lazy
    ``base ⟕ delta ∪ delta`` merge evaluated by the caller.
    ``max_epochs=1`` is one Execute → Commit → Install epoch.
    ``insert_missing=True`` is the reference's op-parallel Execute, which
    inserts absent keys on the fly instead of skipping the op
    (ref: src/database/ycsb/operation_parallel.cuh:72-83): every op with
    a non-NULL key then takes part in reservation and dependency analysis.

    One bounded collect (``_collect_batch``) reads the batch. When it
    fits ``driver_sim_threshold`` op rows — legal to hold driver-side
    because batches are capacity-bounded, the reference caps in-flight
    txns at 200 (ref: TransctionManager.cuh:15) — the drain runs on the
    same driver core as ``stream_drain_step``: the existence policy
    (``_existence``: the whole key set if the table's key count fits
    ``_KEY_PREFETCH_BOUND``, else one broadcast probe of the batch's
    keys; skipped under ``insert_missing``), then ``_drain_rows``
    (Execute's missing-key skip, the ``_sim_schedule`` verdicts and the
    per-key install winners), then ``_overlay``. That costs the collect
    plus one or two existence jobs.

    Larger batches take ``_drain_distributed``: the existence probe runs
    ONCE, fused into the checkpointed batch (committed updates can
    neither create nor drop a key), each epoch is then one flags job,
    and installs accumulate in a lazy delta merged over the base table
    once at the end — epoch cost is two shuffles of the batch, never the
    table. The reference instead round-trips the whole table through the
    GPU every epoch (ref: src/database/ycsb/db.h:111-125). Both paths are
    pinned bit-identical by tests/test_aria.py and the hypothesis
    serial-oracle suite."""
    new_cols = [f"new_{c}" for c in kv.columns if c != "k"]
    rows = _collect_batch(ops, new_cols, driver_sim_threshold)
    if len(rows) > driver_sim_threshold:
        return _drain_distributed(
            kv.localCheckpoint(),
            ops,
            reorder=reorder,
            insert_missing=insert_missing,
            max_epochs=max_epochs,
        )
    # eager=False pins kv (probe and final merge must observe one table)
    # without a dedicated materialization job — the existence policy (or
    # the caller's final-merge read) materializes it.
    base = kv.localCheckpoint(eager=False)
    exist = None
    if not insert_missing:
        keys = {r["k"] for r in rows if r["k"] is not None}
        exist = _existence(base, keys, _KEY_PREFETCH_BOUND)[0] if keys else set()
    stats, winners = _drain_rows(
        rows, exist, new_cols, reorder=reorder, max_epochs=max_epochs
    )
    return _overlay(base, winners), stats


def _collect_batch(ops: DataFrame, new_cols: list[str], limit: int) -> list:
    """The one bounded collect of a batch: schedule tuples and staged
    values, at most ``limit + 1`` rows so the caller can tell an
    oversized batch. CollectLimit's default execution scans ONE partition
    first and scales up 4x per retry — a chain of partly serial jobs;
    ``initialNumPartitions`` at full parallelism makes it one pass."""
    spark = ops.sparkSession
    width = str(spark.sparkContext.defaultParallelism)
    with scoped_conf(spark, {"spark.sql.limit.initialNumPartitions": width}):
        return (
            ops.select("tid", "seq", "k", "is_update", *new_cols)
            .limit(limit + 1)
            .collect()
        )


def _existing_keys(base: DataFrame, keys: set) -> set:
    """Which of the (non-NULL, batch-bounded) ``keys`` exist in ``base``:
    one broadcast join that streams the table and broadcasts the keys."""
    from pyspark.sql.types import StructField, StructType

    kdf = base.sparkSession.createDataFrame(
        [(k,) for k in sorted(keys)],
        StructType([StructField("k", base.schema["k"].dataType)]),
    )
    return {r[0] for r in base.select("k").join(F.broadcast(kdf), "k", "inner").collect()}


def _existence(base: DataFrame, keys: set, prefetch_bound: int | None) -> tuple[set, bool]:
    """The prefetch-or-probe existence policy: returns (existing keys,
    complete). A table whose key count fits ``prefetch_bound`` answers
    with its WHOLE key set (count + one narrow collect; ``complete`` is
    True, so the set answers any later key by membership); a larger one
    answers ``keys`` only, through ``_existing_keys``. ``None`` skips the
    count for a table already known to be too large."""
    if prefetch_bound is not None and base.count() <= prefetch_bound:
        return {r[0] for r in base.select("k").collect()}, True
    return _existing_keys(base, keys), False


def _drain_rows(
    rows: list,
    exist: set | None,
    new_cols: list[str],
    *,
    reorder: bool,
    max_epochs: int,
) -> tuple[list[dict], dict]:
    """The driver-side drain of one collected batch. Execute skips ops on
    keys outside ``exist`` (``None``: insert_missing, every op
    participates), ``_sim_schedule`` computes the verdicts, and each
    key's install winner is picked — newest epoch, then smallest tid,
    then largest seq, the same composite order as the distributed
    install window ((_install_epoch DESC, tid ASC, seq DESC)). Returns
    (per-epoch stats, {k: staged values of the winner})."""
    found = [
        r for r in rows
        if exist is None or (r["k"] is not None and r["k"] in exist)
    ]
    # Analysis sees only non-NULL-key ops (the distributed loop filters
    # k.isNotNull() before flags); the Collect bookkeeping seeds from the
    # RAW batch, so a txn whose every op was skipped still counts
    # in-flight in epoch 1 and trivially commits (as the serial oracle).
    stats, tid_epoch = _sim_schedule(
        [(r["tid"], r["k"], bool(r["is_update"])) for r in found if r["k"] is not None],
        {r["tid"] for r in rows},
        reorder=reorder,
        max_epochs=max_epochs,
    )
    # Under insert_missing a committed NULL-key write mirrors the
    # distributed window's single NULL group (one winner row).
    best: dict = {}
    for r in found:
        ep = tid_epoch.get(r["tid"])
        if not r["is_update"] or ep is None:
            continue
        rank = (ep, -r["tid"], r["seq"])
        if r["k"] not in best or rank > best[r["k"]][0]:
            best[r["k"]] = (rank, tuple(r[c] for c in new_cols))
    return stats, {k: vals for k, (_, vals) in best.items()}


def _drain_distributed(
    base: DataFrame,
    ops: DataFrame,
    *,
    reorder: bool,
    insert_missing: bool,
    max_epochs: int,
) -> tuple[DataFrame, list[dict]]:
    """The distributed epoch loop for batches above the driver bound (see
    run_batch) over a table ``base`` the caller has checkpointed:
    checkpoint the batch, probe existence once, run ``_drain_loop`` at
    batch width, merge the lazy delta over the table."""
    spark = base.sparkSession
    value_cols = [c for c in base.columns if c != "k"]
    ops0 = ops.localCheckpoint()
    # Collect-phase bookkeeping seeds from the RAW batch (see _drain_rows).
    cur = {r[0] for r in ops0.select("tid").distinct().collect()}
    if not insert_missing:
        # Execute's missing-key probe is epoch-INVARIANT: without
        # insert-on-miss, committed updates can neither create nor drop a
        # key (ref: TrancM_func.cuh:32-34), so op→key existence is decided
        # ONCE here and fused into the checkpointed batch instead of being
        # re-probed every epoch — one fewer broadcast build + probe stage
        # in every epoch of the drain.
        ops0 = _probe(base, ops0).localCheckpoint()
    # Size the drain's exchanges to the BATCH, not the cluster: capacity is
    # bounded (the reference caps in-flight txns at 200, ref:
    # TransctionManager.cuh:15), so the per-epoch flags job moves a few
    # thousand op rows — at the session default (one shuffle partition per
    # core) epoch latency is pure task-scheduling overhead. ~512 rows per
    # partition keeps a giant batch parallel while a reference-sized one
    # plans a handful of tasks. Restored after the loop so the final
    # table-sized merge (and every other query on the session) still plans
    # at cluster width; shuffle.partitions is read at action time, and the
    # returned merged plan is evaluated by the caller after restore.
    n_op_rows = ops0.count()
    drain_parts = max(1, min(spark.sparkContext.defaultParallelism, n_op_rows // 4096))
    # AQE's per-stage re-planning is pure latency once the exchanges are
    # already batch-sized (~0.5 s/epoch on local[32]); off for the loop,
    # restored for the table-sized final merge where coalescing/skew
    # handling earn their keep.
    drain_conf = {
        "spark.sql.shuffle.partitions": str(drain_parts),
        "spark.sql.adaptive.enabled": "false",
    }
    with scoped_conf(spark, drain_conf):
        stats, delta = _drain_loop(
            ops0, value_cols, cur, reorder=reorder, max_epochs=max_epochs
        )
    if delta is None:
        return base, stats
    return _overlay(base, delta), stats


def _sim_schedule(
    op_rows: list[tuple],
    cur: set,
    *,
    reorder: bool,
    max_epochs: int,
) -> tuple[list[dict], dict]:
    """The pure-Python drain schedule of ``_drain_rows``: epoch-by-epoch
    verdicts over the capacity-bounded (tid, k, is_update) tuples, never
    touching a DataFrame. Returns (per-epoch stats, committed tid →
    install epoch)."""
    stats: list[dict] = []
    tid_epoch: dict = {}
    cur = set(cur)
    for epoch in range(1, max_epochs + 1):
        if not cur:
            break
        live = [(t, k, u) for (t, k, u) in op_rows if t in cur]
        rts: dict = {}
        wts: dict = {}
        for t, k, u in live:
            if k not in rts or t < rts[k]:
                rts[k] = t
            if u and (k not in wts or t < wts[k]):
                wts[k] = t
        flags: dict = {}
        for t, k, u in live:
            f = flags.setdefault(t, [False, False, False])  # raw, war, waw
            w = wts.get(k)
            if w is not None and w < t:
                f[0] = True
                if u:
                    f[2] = True
            if u and rts[k] < t:
                f[1] = True
        verd = {
            t: not ((f[2] or (f[0] and f[1])) if reorder else (f[2] or f[0]))
            for t, f in flags.items()
        }
        for t, c in verd.items():
            if c:
                tid_epoch[t] = epoch
        stats.append(_epoch_stats(epoch, cur, verd))
        if not stats[-1]["n_aborted"]:
            break
        cur = {t for t, c in verd.items() if not c}
    return stats, tid_epoch


def _epoch_stats(epoch: int, cur: set, verd: dict) -> dict:
    """One epoch's stats record over the in-flight tids ``cur`` and the
    {tid: committed} verdicts of those that had ops to analyze. Its
    ``verdicts`` are the drain SCHEDULE — per-epoch (original tid →
    verdict), the thing Aria determinizes, hash-gated by
    aria_drain_schedule against an unrolled SQL oracle. A pending tid
    with no flag row (every op targeted a missing key) trivially commits
    and is recorded, so the schedule covers the whole in-flight set."""
    n_aborted = sum(1 for c in verd.values() if not c)
    return {
        "epoch": epoch,
        "n_txns": len(cur),
        "n_committed": len(cur) - n_aborted,
        "n_aborted": n_aborted,
        "verdicts": sorted(({t: True for t in cur} | verd).items()),
    }


class StreamDrainState:
    """Cross-trigger state for the streamed Aria drain, in LSM-memtable
    shape so per-trigger cost follows the batch, never the table:

    - ``base0``: the distributed base table, checkpointed ONCE at stream
      start (re-checkpointed only on flush / oversized-batch fallback);
    - ``delta_mem``: the driver-held MEMTABLE of committed writes —
      {k: value tuple}, newest-trigger-wins by plain overwrite. The
      reference caps in-flight transactions at 200
      (TransctionManager.cuh:15), so each trigger contributes a bounded
      key set and bounded value bytes; past ``flush_threshold`` keys the
      memtable is folded into base0 once (one distributed merge,
      amortized over many triggers).
    - ``known_exist`` / ``known_missing``: the driver-side key-existence
      cache. The streamed drain runs ``insert_missing=False`` (the
      reference's YCSB loop), where committed updates can neither create
      nor drop a key — existence is STATIC for the stream's lifetime.
      The first touch applies the drain core's existence policy
      (``_existence``) with ``key_cache_bound``: a table whose key count
      fits it caches its whole key set (``all_keys_cached``) and never
      probes again; a larger table probes each never-seen key once.

    Each trigger runs the driver core shared with ``run_batch`` (see
    ``stream_drain_step``). ``table()`` is base0 ⟕ memtable, lazy —
    evaluated by the caller at stream end, not per trigger. The counters
    ``probe_jobs`` (broadcast existence probes), ``flush_jobs`` and
    ``flush_secs`` (memtable folds and their wall seconds) let a
    benchmark prove which path it measured."""

    def __init__(
        self,
        kv: DataFrame,
        *,
        flush_threshold: int = 500_000,
        key_cache_bound: int = _KEY_PREFETCH_BOUND,
        max_known: int = 10_000_000,
    ) -> None:
        self.base0 = kv.localCheckpoint()
        self.delta_mem: dict = {}
        self.known_exist: set = set()
        self.known_missing: set = set()
        self.all_keys_cached = False
        self.flush_threshold = flush_threshold
        self.key_cache_bound = key_cache_bound
        self.max_known = max_known
        self._probed_count = False
        self.value_cols = [c for c in self.base0.columns if c != "k"]
        self.probe_jobs = 0
        self.flush_jobs = 0
        self.flush_secs = 0.0

    def table(self) -> DataFrame:
        """The current logical table: base0 overridden by the memtable
        (lazy — one anti-join + union when evaluated)."""
        return _overlay(self.base0, self.delta_mem)

    def flush(self) -> None:
        """Fold the memtable into base0 (one distributed merge +
        checkpoint) and clear it."""
        if self.delta_mem:
            import time as _time

            t0 = _time.perf_counter()
            self.base0 = self.table().localCheckpoint()
            self.flush_secs += _time.perf_counter() - t0
            self.delta_mem = {}
            self.flush_jobs += 1

    def _resolve_existence(self, keys: set) -> None:
        """Answer key existence for this batch with at most one job —
        usually zero. The first touch runs the prefetch-or-probe policy;
        afterwards only never-seen keys probe base0."""
        unknown = (
            {k for k in keys if k is not None} - self.known_exist - self.known_missing
        )
        # With all keys cached, known_exist IS the complete key set
        # (static), so membership answers every probe; recording misses
        # would only grow known_missing without bound.
        if not unknown or self.all_keys_cached:
            return
        bound = None if self._probed_count else self.key_cache_bound
        self._probed_count = True
        found, complete = _existence(self.base0, unknown, bound)
        if complete:
            self.known_exist = found
            self.all_keys_cached = True
            self.known_missing.clear()
            return
        self.probe_jobs += 1
        if len(self.known_exist) + len(self.known_missing) + len(unknown) > self.max_known:
            # Evict ONLY keys outside the current batch: the caller is
            # about to answer this batch's existence questions from the
            # cache, so wholesale clear() would silently drop committed
            # updates to previously-cached keys. Batch key sets are
            # capacity-bounded (driver_sim_threshold), so the retained
            # core stays bounded too.
            self.known_exist &= keys
            self.known_missing &= keys
        self.known_exist |= found
        self.known_missing |= unknown - found


def stream_drain_step(
    state: StreamDrainState,
    ops: DataFrame,
    *,
    reorder: bool = True,
    max_epochs: int = 64,
    driver_sim_threshold: int = 100_000,
) -> list[dict]:
    """One micro-batch of the streamed Aria drain against the carried
    ``StreamDrainState``. Returns the batch's per-epoch stats — [] for an
    empty batch. Semantics are exactly ``run_batch(state.table(), ops,
    reorder=...)``, through the same driver core: one bounded collect
    (``_collect_batch`` — emptiness, the size check, the schedule tuples
    and the staged values all come from this one job, and nothing lazy
    survives the trigger that references the expiring streaming source),
    the cached existence policy (``_resolve_existence``, usually zero
    jobs), then ``_drain_rows``, whose winners overwrite the memtable —
    the cross-trigger newest-wins merge. A warm trigger therefore runs
    one Spark job. Batches above ``driver_sim_threshold`` op rows flush
    the memtable and take ``_drain_distributed`` on base0 (the
    key-existence cache stays valid: the key set is static under
    insert_missing=False). Pinned by tests/test_streaming.py and
    tests/test_aria.py."""
    new_cols = [f"new_{c}" for c in state.value_cols]
    rows = _collect_batch(ops, new_cols, driver_sim_threshold)
    if not rows:
        return []
    if len(rows) > driver_sim_threshold:
        state.flush()
        new_kv, stats = _drain_distributed(
            state.base0, ops, reorder=reorder, insert_missing=False, max_epochs=max_epochs
        )
        state.base0 = new_kv.localCheckpoint()
        return stats
    # Memtable keys ⊆ base0 keys, so base0 existence IS table existence.
    state._resolve_existence({r["k"] for r in rows})
    stats, winners = _drain_rows(
        rows, state.known_exist, new_cols, reorder=reorder, max_epochs=max_epochs
    )
    state.delta_mem.update(winners)
    if len(state.delta_mem) > state.flush_threshold:
        state.flush()
    return stats


def _drain_loop(
    ops0: DataFrame,
    value_cols: list[str],
    cur: set,
    *,
    reorder: bool,
    max_epochs: int,
) -> tuple[list[dict], DataFrame | None]:
    """The epoch loop proper (see run_batch). ``ops0`` arrives already
    probed against the table's key set (or is the insert-on-miss batch,
    where every op participates) — either way the loop never touches the
    table again. Runs with batch-sized shuffle partitions; returns
    (per-epoch stats, lazy install delta)."""
    stats: list[dict] = []
    epoch_writes: list[DataFrame] = []
    for epoch in range(1, max_epochs + 1):
        if not cur:
            break
        # The reference's Collect phase densely re-numbers retried tids
        # (TransctionManager.cuh:176-184) because its arrays are indexed
        # by tid. The analysis itself only ever COMPARES tids (wts < tid,
        # rts < tid), and dense re-numbering is order-preserving — so the
        # verdicts on ORIGINAL tids are identical and the epoch runs a
        # plain survivor filter, not a 2·|batch|-literal map remap
        # (measured ~0.19 s/epoch of pure plan-compile cost).
        if epoch == 1:
            ops_e = ops0
        else:
            ops_e = ops0.filter(F.col("tid").isin(sorted(cur)))
        # Commit verdicts, the epoch's ONE job: flags are ≤ one row per
        # in-flight transaction (batch capacity, ref:
        # TransctionManager.cuh:15), collected to the driver. ops_e is
        # pre-probed (or insert-on-miss), so no per-epoch table probe.
        flags = _flags_from_found(ops_e.filter(F.col("k").isNotNull()))
        verd = {r["tid"]: not r["abort"] for r in
                flags.select("tid", _abort_cond(reorder).alias("abort")).collect()}
        # Install from the LITERAL committed-tid list — the verdict subtree
        # (two shuffles) is not recomputed. The writes stay LAZY and
        # APPEND-only: folding each epoch into a running anti-join+union
        # delta would deepen the plan per epoch, and since PySpark
        # analyzes eagerly on construction, epoch e would pay O(e)
        # driver-side analysis (measured ~0.1 s by epoch 9). ops0 is
        # pre-probed, so every write targets an existing key (or, with
        # insert-on-miss, legitimately creates one).
        committed = [t for t, c in verd.items() if c]
        epoch_writes.append(
            ops0.filter(F.col("is_update") & F.col("tid").isin(committed))
            .withColumn("_install_epoch", F.lit(epoch))
        )
        stats.append(_epoch_stats(epoch, cur, verd))
        if not stats[-1]["n_aborted"]:
            break
        cur = {t for t, c in verd.items() if not c}
    if not epoch_writes:
        return stats, None
    # Each key's install winner, resolved ONCE in one flat plan (union
    # width = drain length ≤ max_epochs, evaluated by the caller's final
    # merge — never during the loop): newest epoch, then smallest tid,
    # then largest seq, the order _drain_rows picks by. WAW-freedom leaves
    # one committed writer per key per epoch, whose last write (max seq)
    # wins (ref: src/database/ycsb/key_op_chain.cuh:161-189); the tid
    # tiebreak only matters for the NULL-key group under insert_missing.
    allw = epoch_writes[0]
    for ew in epoch_writes[1:]:
        allw = allw.unionByName(ew)
    wd = W.partitionBy("k").orderBy(
        F.col("_install_epoch").desc(), F.col("tid").asc(), F.col("seq").desc()
    )
    delta = (
        allw.withColumn("_rn", F.row_number().over(wd))
        .filter(F.col("_rn") == 1)
        .select("k", *[F.col(f"new_{c}").alias(c) for c in value_cols])
    )
    return stats, delta
