"""Semantic invariants for the round-1 extension operators beyond oracle
parity: PageRank conservation bounds, gap-fill spine density, compaction
file counts, mixture sampling monotonicity, and the MV rewrite's
conservation of base totals."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from bishe_gpu_database_spark.operators.graph import _BASE, _UNIT, graph_pagerank_3iter
from bishe_gpu_database_spark.operators.pipeline import pipeline_source_mixture
from bishe_gpu_database_spark.operators.timeseries import timeseries_gap_fill
from bishe_gpu_database_spark.operators.relational import t
from bishe_gpu_database_spark.sources.formats import compaction_paths
from tests.conftest import SF_SMALL


def test_pagerank_mass_bounds_and_floor(spark):
    """Every rank ≥ the damping floor, and total mass stays ≤ the initial
    mass (truncating division only loses micro-units, never creates)."""
    rows = graph_pagerank_3iter(spark, SF_SMALL).collect()
    assert rows
    n = len(rows)
    assert all(r["rank_units"] >= _BASE for r in rows)
    total = sum(r["rank_units"] for r in rows)
    assert total <= n * _UNIT
    # the graph is connected enough that ranks differentiate
    assert len({r["rank_units"] for r in rows}) > 1


def test_gap_fill_spine_is_dense_per_series(spark):
    """Consecutive spine hours differ by exactly 3600s within a series,
    and gap rows carry a non-null value once any observation precedes."""
    rows = timeseries_gap_fill(spark, SF_SMALL).orderBy("event_type", "hour").collect()
    by_series: dict[str, list] = {}
    for r in rows:
        by_series.setdefault(r["event_type"], []).append(r)
    for series in by_series.values():
        for a, b in zip(series, series[1:]):
            assert (b["hour"] - a["hour"]).total_seconds() == 3600
        assert series[0]["carried_sum"] is not None  # spine starts at an observation
        assert all(s["carried_sum"] is not None for s in series)


def test_compaction_reduces_file_count_losslessly(spark):
    frag, compact = compaction_paths(spark, SF_SMALL)
    n_frag = len(glob.glob(os.path.join(frag, "*.parquet")))
    n_compact = len(glob.glob(os.path.join(compact, "*.parquet")))
    assert n_frag == 64
    assert 0 < n_compact <= spark.sparkContext.defaultParallelism
    assert (
        spark.read.parquet(compact).count() == spark.read.parquet(frag).count()
    )


def test_mixture_rates_order_and_bounds(spark):
    rows = {r["source"]: r for r in pipeline_source_mixture(spark, SF_SMALL).collect()}
    for r in rows.values():
        assert 0 <= r["n_sampled"] <= r["n_total"]
    if "src0" in rows:  # keep-100% source retains everything
        assert rows["src0"]["n_sampled"] == rows["src0"]["n_total"]


def test_keep_latest_is_one_row_per_key(spark):
    from bishe_gpu_database_spark.operators.dedup import dedup_keep_latest

    df = dedup_keep_latest(spark, SF_SMALL)
    assert df.groupBy("user_id", "event_type").count().filter(F.col("count") > 1).count() == 0


def test_scalable_ntile_matches_single_partition_window(spark):
    """The range-repartition + offset-join global rank must reproduce the
    classic single-partition ntile(10) exactly — deciles, counts, and
    per-decile envelopes. (ntile distributes remainders to the FIRST
    buckets, which floor((rank-1)*10/n) matches only when n % 10 == 0;
    every events fixture is a power-of-ten row count (1000 at the
    default sf0.001), so the two formulations coincide and the
    comparison is exact.)"""
    from pyspark.sql import Window as W

    from bishe_gpu_database_spark.operators.timeseries import agg_ntile_scalable

    got = {
        r["decile"]: (r["n_rows"], r["lo_cents"], r["hi_cents"])
        for r in agg_ntile_scalable(spark, SF_SMALL).collect()
    }
    e = t(spark, SF_SMALL, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    ref = (
        e.select(cents.alias("cents"), "event_id")
        .withColumn(
            "decile",
            F.ntile(10).over(W.orderBy("cents", "event_id")) - 1,
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cents").alias("lo"),
            F.max("cents").alias("hi"),
        )
    )
    want = {r["decile"]: (r["n_rows"], r["lo"], r["hi"]) for r in ref.collect()}
    assert got == want


def test_mv_rewrite_conserves_base_totals(spark):
    """The MV-answered month rollup must conserve the base table's global
    count and cent total exactly (aggregation compositionality)."""
    from bishe_gpu_database_spark.operators.relational import t
    from bishe_gpu_database_spark.sources.formats import mv_rewrite_monthly

    rows = mv_rewrite_monthly(spark, SF_SMALL).collect()
    od = t(spark, SF_SMALL, "orders")
    base = od.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
    ).collect()[0]
    assert sum(r["n_orders"] for r in rows) == base["n"]
    assert sum(r["cents_total"] for r in rows) == base["cents"]
    months = [r["month"] for r in rows]
    assert len(months) == len(set(months))
    assert all(m.day == 1 for m in months)
