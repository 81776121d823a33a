"""The registry sweep runner (scripts/sweep.py): the record, summary and
stamp shape on a two-query run, and the derived fixtures of its
``perturbed`` variant."""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
import pytest

from perfbench.harness import git_tree_hash
from scripts import sweep
from tests.conftest import SF_SMALL

TWO = ["q1_pricing_summary", "q3_shipping_priority"]


@pytest.mark.parametrize("variant", ["parity", "determinism"])
def test_runner_record_summary_and_stamp(spark, variant):
    result = sweep.run(variant, spark, SF_SMALL, TWO)
    assert set(result) == {"stamp", "summary", "queries"}
    assert sorted(result["queries"]) == TWO
    for rec in result["queries"].values():
        assert set(rec) == {"ok", "rows", "detail", "seconds"}
        assert rec["ok"] and rec["detail"] is None and rec["rows"] > 0
        assert rec["seconds"] >= 0
    s = result["summary"]
    assert (s["n_queries"], s["n_pass"], s["n_rows_only"], s["n_fail"]) == (2, 2, 0, 0)
    assert s["failures"] == {} and s["wall_seconds"] >= 0
    assert ("smoke_rows" in s) == (variant == "parity")
    stamp = result["stamp"]
    assert stamp["variant"] == variant and stamp["sf_dir"] == SF_SMALL
    assert stamp["engine_tree"] == git_tree_hash(sweep.ENGINE_DIR)
    assert stamp["cpus"] == spark.sparkContext.defaultParallelism
    assert stamp["spark_version"] == spark.version
    assert set(stamp["conf"]) == set(sweep.STAMP_CONFS)


def test_perturbed_fixture_builders(tmp_path):
    """Spark-free: every table a builder writes keeps its source's parquet
    schema, the injected ids stay unique, ``empty`` empties every fact
    table, and region and nation are copied unchanged."""
    src_tables = sorted(f for f in os.listdir(SF_SMALL) if f.endswith(".parquet"))
    for fixture in ("perturbed", "empty"):
        dst = str(tmp_path / fixture)
        sweep.PERTURBED_FIXTURES[fixture](SF_SMALL, dst)
        assert sorted(os.listdir(dst)) == src_tables
        for f in src_tables:
            src_schema = pq.read_schema(os.path.join(SF_SMALL, f))
            assert pq.read_schema(os.path.join(dst, f)).equals(src_schema), (fixture, f)
        for tbl in sweep.KEPT_TABLES:
            path = f"{tbl}.parquet"
            kept = pq.read_table(os.path.join(dst, path))
            assert kept.equals(pq.read_table(os.path.join(SF_SMALL, path))), (fixture, tbl)
        if fixture == "empty":
            for tbl in sweep.FACT_TABLES:
                assert pq.read_metadata(os.path.join(dst, f"{tbl}.parquet")).num_rows == 0
            continue
        con = duckdb.connect()
        for tbl, key in (
            ("documents", "doc_id"),
            ("events", "event_id"),
            ("customer", "c_custkey"),
            ("embeddings", "vec_id"),
        ):
            n, distinct = con.execute(
                f"SELECT count(*), count(DISTINCT {key}) FROM '{dst}/{tbl}.parquet'"
            ).fetchone()
            src_n = pq.read_metadata(os.path.join(SF_SMALL, f"{tbl}.parquet")).num_rows
            assert n == distinct > src_n, (tbl, n, distinct, src_n)
