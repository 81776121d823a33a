"""Shared fixtures: one SparkSession per test run, DuckDB with the
fixture views registered, and a driver-like result comparator."""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import duckdb
import pytest

from bishe_gpu_database_spark.session import TABLE_NAMES, get_spark

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


# Iterative drivers plan per-epoch; their inner plans are covered by the
# single-epoch queries, so the whole-registry sweeps skip them.
SWEEP_SKIP = {
    "aria_drain_batch",
    "aria_drain_skewed",
    "aria_drain_final_state",
    "aria_drain_schedule",
}


@dataclass(frozen=True)
class SweepPlan:
    """What the whole-registry sweeps read from one build of a query at
    SF_SMALL, taken right after the build."""

    formatted: str
    simple: str
    windows: list[dict]


@pytest.fixture(scope="session")
def sweep_plans(spark) -> dict[str, SweepPlan]:
    """Every registered query outside SWEEP_SKIP, built once at SF_SMALL
    and shared by tests/test_plan_sweep.py and
    tests/test_fact_window_sweep.py."""
    from bishe_gpu_database_spark.plans import fact_windows, formatted_plan, simple_plan
    from bishe_gpu_database_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    out = {}
    for name, spec in sorted(REGISTRY.items()):
        if name in SWEEP_SKIP:
            continue
        df = spec.fn(spark, SF_SMALL)
        out[name] = SweepPlan(formatted_plan(df), simple_plan(df), fact_windows(df))
    return out


def job_count(spark, group, fn):
    """Run ``fn`` under job group ``group``; return how many Spark jobs it
    started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def synthetic_dir(tmp_path, name: str, df) -> str:
    """A fixture dir ``tmp_path/sfdir`` holding ``df`` as ``name.parquet``,
    for driving a query callable on hand-made rows."""
    d = str(tmp_path / "sfdir")
    os.makedirs(d, exist_ok=True)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, f"{name}.parquet"))
    return d


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


@pytest.fixture(scope="session")
def duck(sf_dir):
    return duck_con(sf_dir)


def _norm_cell(v):
    """Normalize a cell for order-insensitive comparison (mimics the
    driver's value hash: stringify with stable float formatting)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def normalize_rows(columns, rows):
    """Sort columns by name, then rows lexicographically — the driver's
    order-insensitive shape."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [columns[i] for i in order], out


def compare_structured(spark, sf_dir: str, fn, sql: str | None) -> dict:
    """The ONE canonical engine-vs-oracle comparator (used by the pytest
    gate AND scripts/sweep.py, so the committed evidence and
    the test verdicts can never drift apart): run the Spark query and the
    DuckDB oracle, return per-aspect booleans plus normalized-value diffs
    in the driver's order-insensitive shape."""
    out = {
        "rows_match": None,
        "schema_match": None,
        "hash_match": None,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
        "_diffs": None,
        "_cols": None,
    }
    sdf = fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    out["spark_rows"] = len(s_rows)
    if sql is None:
        out["err"] = "no_oracle"
        return out
    con = duck_con(sf_dir)
    try:
        res = con.execute(sql)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()
    out["oracle_rows"] = len(d_rows)
    out["schema_match"] = sorted(s_cols) == sorted(d_cols)
    out["rows_match"] = len(s_rows) == len(d_rows)
    out["_cols"] = (sorted(s_cols), sorted(d_cols))
    if out["schema_match"] and out["rows_match"]:
        _, s_norm = normalize_rows(s_cols, s_rows)
        _, d_norm = normalize_rows(d_cols, d_rows)
        out["hash_match"] = s_norm == d_norm
        if not out["hash_match"]:
            out["_diffs"] = [(a, b) for a, b in zip(s_norm, d_norm) if a != b][:3]
    else:
        out["hash_match"] = False
    return out


def oracle_mismatch(r: dict) -> str | None:
    """Why a compare_structured result with an oracle fails; None when it
    matches."""
    if not r["schema_match"]:
        return f"columns differ spark={r['_cols'][0]} duck={r['_cols'][1]}"
    if not r["rows_match"]:
        return f"row count spark={r['spark_rows']} duck={r['oracle_rows']}"
    if not r["hash_match"]:
        return f"values differ; first diffs {r['_diffs']}"
    return None


def compare_query_to_oracle(spark, sf_dir: str, name: str, fn, sql: str):
    """Pytest-facing wrapper over compare_structured: (ok, message)."""
    r = compare_structured(spark, sf_dir, fn, sql)
    why = oracle_mismatch(r)
    if why:
        return False, f"{name}: {why}"
    return True, f"{name}: OK ({r['spark_rows']} rows)"
