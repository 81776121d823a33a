"""The fixture scan: ``t()`` and its schema memo
(``operators.relational._read_parquet``).

- A warm scan starts no Spark job and plans exactly like a cold one, for
  every fixture table.
- A rewritten fixture and a flipped schema-inference conf miss the memo.
- The headline queries build without Spark jobs, except the few whose
  callables run eager work of their own; those are pinned at today's
  counts so the build phase can only get cheaper.
- ``t()`` appends its excluded optimizer rule once and keeps the
  caller's, and a failed re-layout says why before reading the raw
  fixture.
- Every write-once copy derived from a fixture table
  (``relational.derived_copy``) is keyed by its source files: after the
  fixture is rewritten, each query answers from the new data, and two
  fixture dirs that share a basename keep their own copies.
"""

from __future__ import annotations

import logging
import os
import re
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bench import HEADLINE
from bishe_gpu_database_spark.operators import relational
from bishe_gpu_database_spark.operators.relational import t
from bishe_gpu_database_spark.registry import REGISTRY, _ensure_loaded
from bishe_gpu_database_spark.session import TABLE_NAMES, scoped_conf
from bishe_gpu_database_spark.sources import formats
from tests.conftest import SF_SMALL, compare_query_to_oracle, job_count

# Build jobs the headline queries still start at SF_SMALL on a warm memo,
# all from eager localCheckpoint / collect / count calls inside the
# query callables. Every other headline query builds with 0.
EAGER_BUILD_JOBS = {
    "graph_pagerank_3iter": 16,
    "mart_rfm_segments": 3,
    "dedup_semdedup": 5,
    "graph_reachability_rcte": 3,
    "geo_neighbor_pairs": 1,
}


def _plan(df) -> str:
    """The optimized plan with expression ids stripped."""
    return re.sub(r"#\d+", "", df._jdf.queryExecution().optimizedPlan().toString())


def _scan(spark, sf_dir: str, name: str):
    """``t()`` under a job counter: (DataFrame, jobs it started)."""
    out = []
    jobs = job_count(spark, f"scan-{name}", lambda: out.append(t(spark, sf_dir, name)))
    return out[0], jobs


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_warm_scan_plans_like_cold_and_starts_no_job(spark, monkeypatch, name):
    monkeypatch.setattr(relational, "_SCHEMAS", {})
    cold = t(spark, SF_SMALL, name)
    warm, jobs = _scan(spark, SF_SMALL, name)
    assert jobs == 0
    assert warm.schema == cold.schema
    assert _plan(warm) == _plan(cold)


def test_rewritten_fixture_misses_the_memo(spark, tmp_path):
    path = tmp_path / "region.parquet"
    shutil.copy(os.path.join(SF_SMALL, "region.parquet"), path)
    before = t(spark, str(tmp_path), "region").schema
    assert _scan(spark, str(tmp_path), "region")[1] == 0
    table = pq.read_table(path)
    extra = pa.array(range(table.num_rows), pa.int64())
    pq.write_table(table.append_column("r_extra", extra), path)
    after = t(spark, str(tmp_path), "region")
    assert after.columns == before.names + ["r_extra"]
    assert sorted(r.r_extra for r in after.collect()) == list(range(table.num_rows))


def test_nanos_as_long_is_in_the_events_key(spark):
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    path = os.path.join(SF_SMALL, "events.parquet")
    with scoped_conf(spark, {conf: "true"}):
        on = relational._schema_key(spark, path)
    with scoped_conf(spark, {conf: "false"}):
        off = relational._schema_key(spark, path)
    assert on != off


def test_headline_build_jobs_ratchet(spark):
    _ensure_loaded()
    for name in TABLE_NAMES:
        t(spark, SF_SMALL, name)
    jobs = {
        q: job_count(spark, f"build-{q}", lambda q=q: REGISTRY[q].fn(spark, SF_SMALL))
        for q in HEADLINE
    }
    over = {q: n for q, n in jobs.items() if n > EAGER_BUILD_JOBS.get(q, 0)}
    assert not over, f"build jobs above the pinned counts: {over}"


def test_scan_appends_excluded_rule_once(spark):
    conf = "spark.sql.optimizer.excludedRules"
    mine = "org.apache.spark.sql.catalyst.optimizer.ConstantFolding"
    with scoped_conf(spark, {conf: mine}):
        t(spark, SF_SMALL, "region")
        t(spark, SF_SMALL, "nation")
        rules = spark.conf.get(conf).split(",")
    assert mine in rules
    assert rules.count(relational._NO_GENERATE_FILTERS) == 1


def test_failed_relayout_logs_and_reads_raw(spark, monkeypatch, caplog):
    def fail(*_args):
        raise OSError("scratch is read-only")

    monkeypatch.setattr(relational, "_relayout_scan", fail)
    with caplog.at_level(logging.WARNING, logger=relational.__name__):
        df = t(spark, SF_SMALL, "orders")
    raw = spark.read.parquet(os.path.join(SF_SMALL, "orders.parquet"))
    assert df.columns == raw.columns
    assert df.count() == raw.count()
    [rec] = [r for r in caplog.records if r.name == relational.__name__]
    assert "orders" in rec.getMessage()
    assert "scratch is read-only" in rec.getMessage()


# Queries that answer from a write-once copy of a fixture table: the
# formats.py copies, the bucketed tables and one re-layout-backed query.
DERIVED_COPY_QUERIES = [
    "source_partition_pruning",
    "source_dpp_join",
    "sink_compaction",
    "source_json_corrupt_records",
    "source_bucketed_join",
    "mv_rewrite_monthly",
    "source_binaryfile",
    "q1_pricing_summary",
]


@pytest.fixture
def scratch(monkeypatch, tmp_path):
    """A scratch root of the test's own, so its copies go with it."""
    root = str(tmp_path / "scratch")
    os.makedirs(root)
    monkeypatch.setattr(relational, "_SCRATCH", root)
    monkeypatch.setattr(formats, "_SCRATCH", root)
    return root


def _fixture_copy(dst) -> str:
    shutil.copytree(SF_SMALL, dst)
    return str(dst)


def _halve(sf_dir: str) -> None:
    """Rewrite the tables the copies derive from with half their rows."""
    con = duckdb.connect()
    for tbl in ("lineitem", "orders", "events", "documents"):
        path = os.path.join(sf_dir, f"{tbl}.parquet")
        (n,) = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()
        con.execute(f"COPY (SELECT * FROM '{path}' LIMIT {n // 2}) TO '{path}.new' (FORMAT PARQUET)")
        os.replace(f"{path}.new", path)


def _assert_oracle(spark, sf_dir: str, name: str) -> None:
    spec = REGISTRY[name]
    ok, msg = compare_query_to_oracle(spark, sf_dir, name, spec.fn, spec.oracle)
    assert ok, msg


@pytest.mark.parametrize("name", DERIVED_COPY_QUERIES)
def test_rewritten_fixture_misses_every_derived_copy(spark, scratch, tmp_path, name):
    _ensure_loaded()
    sf = _fixture_copy(tmp_path / "sfx")
    _assert_oracle(spark, sf, name)
    _halve(sf)
    _assert_oracle(spark, sf, name)


@pytest.mark.parametrize("name", DERIVED_COPY_QUERIES)
def test_same_basename_fixtures_keep_their_own_copies(spark, scratch, tmp_path, name):
    _ensure_loaded()
    a = _fixture_copy(tmp_path / "a" / "sfx")
    b = _fixture_copy(tmp_path / "b" / "sfx")
    _halve(b)
    _assert_oracle(spark, a, name)
    built_for_a = set(os.listdir(scratch))
    _assert_oracle(spark, b, name)
    assert built_for_a <= set(os.listdir(scratch))
    _assert_oracle(spark, a, name)
