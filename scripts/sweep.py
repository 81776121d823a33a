"""One sweep over the query registry: every registered query through one
check, one record each, one summary and one provenance stamp.

    PYTHONPATH=. python scripts/sweep.py VARIANT [SF_DIR] [NAME_FILTER ...] [--out FILE]

VARIANT picks the session, the default fixture and the check:

- ``parity`` (default sf0.01): a plain SparkSession shaped like the
  driver's own (UTC, no UI, cores from the process's CPU affinity). It
  smoke-runs ``__spark_entry__.entry()``, then compares every query with
  its DuckDB oracle through ``tests.conftest.compare_structured``.
- ``wide``: ``parity`` with ``spark.sql.shuffle.partitions=2000`` on that
  session, the width of a 1000-executor deploy: no result may depend on
  the partition count. The ``stream_runtime_*`` queries are skipped: a
  stateful stream persists its width into its checkpoint, so 2000 state
  stores per operator would measure a deployment mistake, not the engine
  (the runtime side is ``streams.assert_checkpoint_width``).
- ``determinism`` (default sf0.001): every query twice on ``get_spark``'s
  session; the normalized rows must be identical. A query whose output
  varies run to run flakes a value-hash gate, and a recomputed lost
  partition must reproduce its bytes.
- ``perturbed`` (default sf0.001): the oracle check on three fixtures
  derived from SF_DIR: content edge cases injected (``perturbed``), every
  fact table cut to one row (``single_row``) or to none (``empty``).
- ``timing`` (default sf0.1): best of two runs of every query to the noop
  sink; ``seconds`` is the best run.

SF_DIR is the first positional argument when it names a directory; the
rest are substring filters on query names. The result (stamp, summary,
per-query records) is written to ``--out`` when given, and the summary is
always the last stdout line. The exit status is 1 when any query fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bishe_gpu_database_spark.operators.relational import _SCRATCH  # noqa: E402
from bishe_gpu_database_spark.registry import REGISTRY, _ensure_loaded  # noqa: E402
from perfbench.harness import git_tree_hash  # noqa: E402
from tests.conftest import (  # noqa: E402
    SF_MEDIUM,
    compare_structured,
    normalize_rows,
    oracle_mismatch,
)

ENGINE_DIR = os.path.join(REPO, "bishe_gpu_database_spark")
TESTDATA = os.path.dirname(SF_MEDIUM)
WIDE_PARTITIONS = "2000"
TIMING_RUNS = 2
# The session confs every variant's results depend on, recorded as the
# session actually holds them.
STAMP_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
)


# --------------------------------------------------------------------------
# Derived fixtures for the perturbed variant. The driver's fixtures never
# hold the content edge cases a 100 TB corpus holds routinely; a query and
# its oracle can share a bug (both drop the odd row) or diverge on it. The
# injected rows keep the structural invariants (unique ids, consistent
# n_chars, in-domain enums) and break only content assumptions.
# --------------------------------------------------------------------------

# Fact tables emptied or cut for the cardinality fixtures; region and
# nation stay populated (structural enums every engine assumes).
FACT_TABLES = (
    "documents", "events", "embeddings", "orders", "lineitem", "customer", "supplier", "part",
)
KEPT_TABLES = ("region", "nation")

# Content edge-case documents past the max doc_id: empty, whitespace-only,
# letter-less, single-char, repetitive, punctuation-only; then multibyte
# text (byte count != codepoint count != token count). Case maps are all
# 1:1 here: Turkish U+0130 lowers differently in Java and utf8proc, an
# engine-level divergence no query can reconcile. n_chars is the codepoint
# length both engines compute. Then two NULL-text docs, one sorting first
# in its lang so running sums start on an all-NULL prefix.
_UNICODE = "Ünïcödé ÇAFÉ naïve МОСКВА москва 🎉🎉 日本語テキスト eté"
_DOCUMENTS = f"""
    SELECT * FROM (VALUES
      (900001, '', 'en', 'src0', 0),
      (900002, '   ', 'en', 'src1', 3),
      (900003, '123 456 789 !!! ???', 'de', 'src2', 19),
      (900004, 'x', 'es', 'src0', 1),
      (900005, 'the the the the the the the the', 'en', 'src1', 31),
      (900006, '!!!???...,,,;;;:::', 'fr', 'src2', 18)
    ) t(doc_id, text, lang, source, n_chars)
    UNION ALL SELECT 900007, '{_UNICODE}', 'de', 'src1', length('{_UNICODE}')
    UNION ALL SELECT 900008, CAST(NULL AS VARCHAR), 'en', 'src0', CAST(NULL AS BIGINT)
    UNION ALL SELECT -900009, CAST(NULL AS VARCHAR), 'en', 'src1', CAST(NULL AS BIGINT)
"""

# Events cloned from the first event: (event_id, ts, user_id, event_type,
# value, props). Two share an existing (event_type, ts); a zero value; a
# purchase before its user's signup; a pre-epoch and a 1 µs-past-epoch
# timestamp (floor-vs-truncate bucketing, seconds-cast truncation); and
# NULL, truncated and non-numeric-$.k props.
_EVENTS = (
    (900001, "ts", 900001, "event_type", "0.0", "props"),
    (900002, "ts", 900002, "event_type", "123.45", "props"),
    (900003, "ts + INTERVAL 1 MINUTE", 900003, "'purchase'", "7.0", "props"),
    (900004, "ts + INTERVAL 2 MINUTE", 900003, "'signup'", "0.0", "props"),
    (900005, "TIMESTAMP '1969-12-31 23:30:00'", 900005, "event_type", "1.0", "props"),
    (900006, "TIMESTAMP '1970-01-01 00:00:00.000001'", 900006, "event_type", "2.0", "props"),
    (900007, "ts", 900007, "event_type", "3.0", "NULL"),
    (900008, "ts", 900008, "event_type", "4.0", """'{"k": '"""),
    (900009, "ts", 900009, "event_type", "5.0", """'{"k": "not_a_number"}'"""),
)

# Zero and negative balances at fresh keys, in valid segments.
_CUSTOMERS = """
    SELECT * FROM (VALUES
      (900001, 'Customer#900001', 0, 0.00, 'BUILDING'),
      (900002, 'Customer#900002', 1, -999.99, 'MACHINERY')
    ) t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
"""


def build_perturbed(src: str, dst: str) -> None:
    """Copy ``src`` into ``dst`` with the content edge cases appended."""
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for tbl in ("region", "nation", "supplier", "part", "orders", "lineitem"):
        shutil.copy(os.path.join(src, f"{tbl}.parquet"), os.path.join(dst, f"{tbl}.parquet"))
    first = f"(SELECT * FROM '{src}/events.parquet' ORDER BY event_id LIMIT 1)"
    events = " UNION ALL ".join(
        f"SELECT * FROM (SELECT {eid} AS event_id, {ts}, {uid}, {typ}, {val}, {props}"
        f" FROM {first})"
        for eid, ts, uid, typ, val, props in _EVENTS
    )
    # The zero vector (norm 0, the cosine edge case) and a constant one.
    (dim,) = con.execute(
        f"SELECT len(embedding) FROM '{src}/embeddings.parquet' LIMIT 1"
    ).fetchone()
    vectors = (
        f"SELECT 900001, CAST([0.0 FOR i IN range({dim})] AS FLOAT[]), 0 UNION ALL "
        f"SELECT 900002, CAST([0.5 FOR i IN range({dim})] AS FLOAT[]), 1"
    )
    for tbl, extra in (
        ("documents", _DOCUMENTS),
        ("events", events),
        ("customer", _CUSTOMERS),
        ("embeddings", vectors),
    ):
        con.execute(
            f"COPY (SELECT * FROM '{src}/{tbl}.parquet' UNION ALL {extra}) "
            f"TO '{dst}/{tbl}.parquet' (FORMAT PARQUET)"
        )


def build_cardinality(src: str, dst: str, clause: str) -> None:
    """Copy ``src`` into ``dst`` with every fact table cut by ``clause``
    (``WHERE 1=0``: empty; ``ORDER BY 1 LIMIT 1``: one row). Schemas are
    unchanged."""
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for tbl in KEPT_TABLES:
        shutil.copy(os.path.join(src, f"{tbl}.parquet"), os.path.join(dst, f"{tbl}.parquet"))
    for tbl in FACT_TABLES:
        con.execute(
            f"COPY (SELECT * FROM '{src}/{tbl}.parquet' {clause}) "
            f"TO '{dst}/{tbl}.parquet' (FORMAT PARQUET)"
        )


PERTURBED_FIXTURES = {
    "perturbed": build_perturbed,
    "single_row": lambda src, dst: build_cardinality(src, dst, "ORDER BY 1 LIMIT 1"),
    "empty": lambda src, dst: build_cardinality(src, dst, "WHERE 1=0"),
}


def fresh_fixture(fixture: str, src: str) -> str:
    """Rebuild one derived fixture in the engine's scratch root. Nothing
    the engine copied from an earlier build needs purging: every
    write-once copy is named by its source files' size and mtime
    (``relational.derived_copy``), so the rebuilt files miss them all."""
    dst = os.path.join(_SCRATCH, f"sf_{fixture}")
    shutil.rmtree(dst, ignore_errors=True)
    PERTURBED_FIXTURES[fixture](src, dst)
    return dst


# --------------------------------------------------------------------------
# Checks: (spark, sf_dir, spec) -> {"ok", "rows", "detail"[, "seconds"]}.
# --------------------------------------------------------------------------


def check_parity(spark, sf_dir: str, spec) -> dict:
    r = compare_structured(spark, sf_dir, spec.fn, spec.oracle)
    if spec.oracle is None:
        return {"ok": True, "rows": r["spark_rows"], "detail": "rows-only"}
    why = oracle_mismatch(r)
    return {"ok": why is None, "rows": r["spark_rows"], "detail": why}


def check_determinism(spark, sf_dir: str, spec) -> dict:
    runs = []
    for _ in range(2):
        df = spec.fn(spark, sf_dir)
        runs.append(normalize_rows(df.columns, [tuple(r) for r in df.collect()]))
    (c1, r1), (c2, r2) = runs
    detail = None
    if c1 != c2:
        detail = f"columns differ: {c1} vs {c2}"
    elif r1 != r2:
        diffs = [(a, b) for a, b in zip(r1, r2) if a != b][:2]
        what = f"{len(r1)} vs {len(r2)} rows" if len(r1) != len(r2) else "values differ"
        detail = f"{what}; first diffs {diffs}"
    return {"ok": detail is None, "rows": len(r1), "detail": detail}


def check_timing(spark, sf_dir: str, spec) -> dict:
    times = []
    for _ in range(TIMING_RUNS):
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        try:
            df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 — sink- and DDL-shaped queries
            df.collect()
        times.append(time.perf_counter() - t0)
    return {"ok": True, "rows": None, "detail": None, "seconds": round(min(times), 3)}


# variant -> (default fixture under TESTDATA, check)
VARIANTS = {
    "parity": ("sf0.01", check_parity),
    "wide": ("sf0.01", check_parity),
    "determinism": ("sf0.001", check_determinism),
    "perturbed": ("sf0.001", check_parity),
    "timing": ("sf0.1", check_timing),
}


def sweep(spark, check, sf_dir: str, names: list[str], prefix: str = "") -> dict[str, dict]:
    """The one loop: ``check`` on every named query, one record each."""
    records = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            rec = check(spark, sf_dir, REGISTRY[name])
        except Exception as e:  # noqa: BLE001 — the sweep must see every failure
            rec = {"ok": False, "rows": None, "detail": f"{type(e).__name__}: {str(e)[:300]}"}
        rec.setdefault("seconds", round(time.perf_counter() - t0, 3))
        records[prefix + name] = rec
        rows = "" if rec["rows"] is None else f" ({rec['rows']} rows)"
        tail = f": {rec['detail']}" if rec["detail"] else ""
        status = "PASS" if rec["ok"] else "FAIL"
        print(f"{status} [{rec['seconds']:7.2f}s] {prefix}{name}{rows}{tail}", flush=True)
    return records


def stamp(variant: str, spark, sf_dir: str) -> dict:
    """Which tree, session and fixture produced a sweep."""
    return {
        "variant": variant,
        "sf_dir": sf_dir,
        "engine_tree": git_tree_hash(ENGINE_DIR),
        "cpus": spark.sparkContext.defaultParallelism,
        "spark_version": spark.version,
        "conf": {k: spark.conf.get(k) for k in STAMP_CONFS},
    }


def run(variant: str, spark, sf_dir: str, filters=()) -> dict:
    """Sweep ``variant`` on ``spark``; returns {stamp, summary, queries}."""
    _ensure_loaded()
    names = [n for n in sorted(REGISTRY) if not filters or any(f in n for f in filters)]
    provenance = stamp(variant, spark, sf_dir)
    summary = {}
    t0 = time.time()
    if variant in ("parity", "wide"):
        import __spark_entry__

        summary["smoke_rows"] = len(__spark_entry__.entry(spark).collect())
        print(f"SMOKE entry(): {summary['smoke_rows']} rows", flush=True)
        if not summary["smoke_rows"]:
            raise RuntimeError("entry() returned no rows")
    if variant == "wide":
        summary["skipped"] = [n for n in names if n.startswith("stream_runtime_")]
        names = [n for n in names if n not in summary["skipped"]]
    if variant == "timing":
        spark.range(1).count()
    check = VARIANTS[variant][1]
    if variant == "perturbed":
        records = {}
        for fixture in PERTURBED_FIXTURES:
            d = fresh_fixture(fixture, sf_dir)
            records.update(sweep(spark, check, d, names, f"{fixture}/"))
    else:
        records = sweep(spark, check, sf_dir, names)
    failures = {n: r["detail"] for n, r in records.items() if not r["ok"]}
    rows_only = sum(1 for r in records.values() if r["ok"] and r["detail"] == "rows-only")
    summary.update(
        n_queries=len(records),
        n_pass=len(records) - len(failures) - rows_only,
        n_rows_only=rows_only,
        n_fail=len(failures),
        failures=failures,
        wall_seconds=round(time.time() - t0, 1),
    )
    return {"stamp": provenance, "summary": summary, "queries": records}


def session(variant: str):
    """The session the variant's committed evidence has always used."""
    if variant not in ("parity", "wide"):
        from bishe_gpu_database_spark.session import get_spark

        return get_spark(f"sweep-{variant}")
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .appName(f"sweep-{variant}")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    if variant == "wide":
        builder = builder.config("spark.sql.shuffle.partitions", WIDE_PARTITIONS)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("variant", choices=sorted(VARIANTS))
    p.add_argument("args", nargs="*", metavar="[SF_DIR] NAME_FILTER")
    p.add_argument("--out", help="write the full result here as JSON")
    a = p.parse_args(argv)
    sf_dir, filters = os.path.join(TESTDATA, VARIANTS[a.variant][0]), a.args
    if filters and os.path.isdir(filters[0]):
        sf_dir, filters = filters[0], filters[1:]
    result = run(a.variant, session(a.variant), sf_dir, filters)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(result, fh, indent=1, default=str)
            fh.write("\n")
    print(json.dumps(result["summary"], default=str), flush=True)
    return 1 if result["summary"]["n_fail"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
