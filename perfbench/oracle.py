"""Output check of the Aria workloads, run after the timed region.

The reference is the repo's pure-Python replay of the Aria spec,
``tests/serial_oracle.py``: reservations as min-tid per key, abort on
``waw or (raw and war)`` with reordering, committed writes installed with
last-seq-wins, aborted transactions retried. Every drained batch is
replayed in order over the initial values of the keys the ops touch; each
batch's per-epoch schedule and the final value of every touched key must
match the engine's.
"""

from __future__ import annotations

from tests.serial_oracle import Op, drain

N_FIELDS = 10
MAX_EPOCHS = 64


def ops_from_table(tbl) -> list[Op]:
    """Ops from an Arrow table with the engine's batch columns."""
    cols = tbl.to_pydict()
    vals = list(zip(*(cols[f"new_f{j}"] for j in range(N_FIELDS))))
    return [
        Op(t, s, k, bool(u), v)
        for t, s, k, u, v in zip(cols["tid"], cols["seq"], cols["k"], cols["is_update"], vals)
    ]


def check(spark, state, history, pool, n_keys, kv_seed, n_final):
    """Replay every drained batch in order, starting from the touched keys'
    values in the regenerated seeded table; compare each batch's schedule
    with the engine's and the final value of every touched key. Returns
    (failed, attempted, reasons)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from bishe_gpu_database_spark.aria.workload import gen_kv

    batches = [(i, engine_stats, pool.rows(i)) for i, engine_stats in history]
    touched = sorted({o.k for _, _, ops in batches for o in ops if 1 <= o.k <= n_keys})
    keys = spark.createDataFrame(
        [(k,) for k in touched], StructType([StructField("k", LongType())])
    )
    fields = [f"f{j}" for j in range(N_FIELDS)]

    def fetch(df) -> dict:
        rows = df.join(F.broadcast(keys), "k").select("k", *fields).collect()
        return {r[0]: tuple(r[1:]) for r in rows}

    # Every key 1..n_keys exists, so holding only the touched ones decides
    # each op's existence the same way the full table would.
    kv = fetch(gen_kv(spark, n_keys, seed=kv_seed))
    failed, why = 0, []
    for i, engine_stats, ops in batches:
        kv, stats = drain(kv, ops, reorder=True, max_epochs=MAX_EPOCHS)
        name = "bulk" if i is None else f"batch {i}"
        if stats and stats[-1]["n_aborted"]:
            failed += 1
            why.append(f"{name}: {stats[-1]['n_aborted']} txns uncommitted after {MAX_EPOCHS} epochs")
        elif engine_stats != stats:
            failed += 1
            why.append(f"{name}: schedule differs ({len(engine_stats)} vs {len(stats)} epochs)")
    final = fetch(state.table())
    bad = [k for k in touched if final.get(k) != kv.get(k)]
    if bad or n_final != n_keys:
        failed += 1
        why.append(f"final table: {len(bad)} of {len(touched)} touched keys differ, {n_final} rows")
    return failed, len(history) + 1, why
