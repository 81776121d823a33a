"""r8 (r7 verdict item 6): pin the FastSS output-bound adjudication.

The r7 scale probe measured dedup_editdist_fastss at 2.91x under the skewed
fixture's identical-name cliques and adjudicated it OUTPUT-bound: an
edit-distance<=1 self-join must EMIT every C(m,2) pair of an m-record
clique, so output — not candidate work — grows quadratically in clique
size. These tests make that combinatorial claim executable: emitted
pairs equal exactly C(m,2) per planted clique (quadratic in m), zero
pairs cross cliques, and the capped top-k variant bounds per-record
output at k regardless of m."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bishe_gpu_database_spark.operators.dedup import (
    dedup_editdist_fastss,
    dedup_editdist_topk,
)

CLIQUES = {100: 4, 200: 8}  # base key -> clique size m


def _clique_fixture(spark, tmp_path) -> str:
    """customer.parquet holding identical-name cliques (the skew
    fixture's hot pattern) plus far-apart filler names."""
    base = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").limit(1)
    rows = []
    for start, m in CLIQUES.items():
        for i in range(m):
            # repeat the base key 3x so DIFFERENT cliques sit at edit
            # distance 3 from each other (one digit repeated thrice),
            # while members WITHIN a clique are identical (ed = 0)
            rows.append((start + i, f"clique {start} {start} {start}"))
    for i in range(10):  # filler: pairwise ed >> 1
        rows.append((900 + i, f"totally unrelated filler {i} {'x' * i}"))
    spec = spark.createDataFrame(rows, "k long, name string")
    out = base.crossJoin(spec).select(
        F.col("k").alias("c_custkey"),
        F.col("name").alias("c_name"),
        *[
            c
            for c in base.columns
            if c not in ("c_custkey", "c_name", "c_mktsegment")
        ],
        F.lit("BUILDING").alias("c_mktsegment"),
    )
    import glob
    import shutil

    staged = tmp_path / "cust_staged"
    out.coalesce(1).write.parquet(str(staged))
    part = glob.glob(str(staged / "part-*.parquet"))[0]
    shutil.copy(part, str(tmp_path / "customer.parquet"))
    return str(tmp_path)


def _clique_of(k: int) -> int:
    for start, m in CLIQUES.items():
        if start <= k < start + m:
            return start
    return -1


def test_pairs_emitted_are_exactly_c_m_2(spark, tmp_path):
    sf_dir = _clique_fixture(spark, tmp_path)
    pairs = dedup_editdist_fastss(spark, sf_dir).select("u", "v", "ed").collect()

    by_clique: dict[int, int] = {}
    for r in pairs:
        cu, cv = _clique_of(r.u), _clique_of(r.v)
        assert cu == cv and cu > 0, f"cross-clique or filler pair {r.u}-{r.v}"
        assert r.ed == 0
        by_clique[cu] = by_clique.get(cu, 0) + 1

    # C(m,2) exactly, per clique — output grows quadratically in clique
    # size (6 -> 28 as m doubles 4 -> 8) because those are GENUINE pairs.
    assert by_clique == {
        start: m * (m - 1) // 2 for start, m in CLIQUES.items()
    }
    assert len(pairs) == sum(m * (m - 1) // 2 for m in CLIQUES.values())


def test_topk_caps_per_record_output(spark, tmp_path):
    sf_dir = _clique_fixture(spark, tmp_path)
    rows = dedup_editdist_topk(spark, sf_dir).collect()

    per_u: dict[int, int] = {}
    for r in rows:
        per_u[r.u] = per_u.get(r.u, 0) + 1
        assert r.rk <= 2 and r.ed == 0
    # every clique member emits exactly min(k, m-1) = 2 rows; total
    # output is k * members — LINEAR in clique size, the pipeline-safe
    # bound the uncapped emitter cannot give.
    assert all(n == 2 for n in per_u.values())
    assert len(rows) == 2 * sum(CLIQUES.values())
    assert set(per_u) == {
        start + i for start, m in CLIQUES.items() for i in range(m)
    }


@pytest.mark.parametrize("name", ["dedup_editdist_topk"])
def test_topk_matches_oracle_on_clique_fixture(spark, tmp_path, name):
    """The registered oracle also holds on the adversarial clique
    fixture, not just the TPC-H names (duckdb views built over the tmp
    dir)."""
    from bishe_gpu_database_spark.registry import REGISTRY, _ensure_loaded
    from tests.conftest import compare_query_to_oracle

    _ensure_loaded()
    sf_dir = _clique_fixture(spark, tmp_path)
    spec = REGISTRY[name]
    ok, msg = compare_query_to_oracle(spark, sf_dir, name, spec.fn, spec.oracle)
    assert ok, msg
