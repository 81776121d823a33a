"""Semantic invariants for the CDC / dimension-history / sketch
operators beyond oracle parity: merge action partitioning, SCD2 interval
contiguity, the HLL estimate's error bound against the exact count, and
the key-sequence gap audit, which must surface fully-empty buckets."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from bishe_gpu_database_spark.operators.cdc import (
    agg_hll_sketch_merge,
    cdc_merge_snapshot,
    scd2_history,
)
from bishe_gpu_database_spark.operators.relational import t
from tests.conftest import SF_SMALL, synthetic_dir


def test_cdc_merge_actions_partition_keyspace(spark):
    """kept = snapshot keys untouched by the changelog; updated = keys in
    both; inserted = changelog-only keys; delete keys appear nowhere."""
    rows = cdc_merge_snapshot(spark, SF_SMALL).collect()
    got = {r["k"]: r["action"] for r in rows}
    assert len(got) == len(rows)  # one row per surviving key

    ev = t(spark, SF_SMALL, "events")
    latest = (
        ev.groupBy("user_id")
        .agg(
            F.max_by(
                F.col("event_type") == "error", F.struct("ts", "event_id")
            ).alias("is_del")
        )
        .collect()
    )
    del_keys = {r["user_id"] for r in latest if r["is_del"]}
    upsert_keys = {r["user_id"] for r in latest if not r["is_del"]}
    snap_keys = {
        r["c_custkey"]
        for r in t(spark, SF_SMALL, "customer").select("c_custkey").collect()
    }

    assert del_keys.isdisjoint(got)
    for k, action in got.items():
        if action == "kept":
            assert k in snap_keys and k not in upsert_keys
        elif action == "updated":
            assert k in snap_keys and k in upsert_keys
        else:
            assert action == "inserted" and k not in snap_keys and k in upsert_keys
    assert set(got) == (snap_keys - del_keys) | upsert_keys


def test_scd2_intervals_contiguous_and_alternating(spark):
    """Per user: versions number 1..n, each valid_to equals the next
    valid_from, exactly one open (is_current) version, and consecutive
    versions never repeat the tracked attribute."""
    by_user = defaultdict(list)
    for r in scd2_history(spark, SF_SMALL).collect():
        by_user[r["user_id"]].append(r)
    assert by_user
    for rows in by_user.values():
        rows.sort(key=lambda r: r["version_n"])
        assert [r["version_n"] for r in rows] == list(range(1, len(rows) + 1))
        assert sum(r["is_current"] for r in rows) == 1
        assert rows[-1]["is_current"] and rows[-1]["valid_to"] is None
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["valid_from"] < a["valid_to"]
            assert a["event_type"] != b["event_type"]


def test_hll_estimates_within_error_bound(spark):
    """Every per-type estimate and the union-merged ALL estimate land
    within 2% of the exact distinct count (lgConfigK=14 → ~0.8% RSE)."""
    rows = {
        r["event_type"]: r for r in agg_hll_sketch_merge(spark, SF_SMALL).collect()
    }
    ev = t(spark, SF_SMALL, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["ALL"] = ev.select("user_id").distinct().count()
    assert set(rows) == set(exact)
    for k, n in exact.items():
        assert rows[k]["n_exact"] == n
        assert rows[k]["within_bound"] is True
    # Tight 2% check on the raw estimates (the query's gate allows 5%):
    # per-type and union-merged, recomputed independently of the query.
    est_all = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 14)).alias("e")
    ).collect()[0]["e"]
    assert abs(est_all - exact["ALL"]) <= max(1, 0.02 * exact["ALL"])


def test_ivm_merge_equals_recompute(spark):
    """The delta-merged view equals a from-scratch recompute, and the
    stored snapshot really is materialized (checkpoint truncates the
    base scan out of the merge plan)."""
    from bishe_gpu_database_spark.operators.cdc import ivm_incremental_agg

    got = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in ivm_incremental_agg(spark, SF_SMALL).collect()
    }
    ev = t(spark, SF_SMALL, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    full = {
        r["user_id"]: (r["n"], r["c"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c"))
        .collect()
    }
    assert got == full


def test_zorder_files_cover_small_boxes(spark):
    """Each z-ordered output file spans a bounding box far smaller than
    the full (partkey × suppkey) domain — the locality property that
    turns row-group min/max stats into a 2-D index. A lexicographic
    sort on one key would leave the other dimension's per-file span at
    ~100% of its domain; z-order bounds BOTH."""
    from bishe_gpu_database_spark.operators.cdc import cdc_merge_snapshot  # noqa: F401
    from bishe_gpu_database_spark.sources.formats import (
        sink_zorder_layout,
        zorder_path,
    )

    sink_zorder_layout(spark, SF_SMALL).collect()  # ensure layout written
    back = spark.read.parquet(zorder_path(SF_SMALL))
    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("l_partkey") - F.min("l_partkey")).alias("p_span"),
            (F.max("l_suppkey") - F.min("l_suppkey")).alias("s_span"),
        )
        .collect()
    )
    assert len(per_file) >= 8
    dom = back.agg(
        (F.max("l_partkey") - F.min("l_partkey")).alias("p"),
        (F.max("l_suppkey") - F.min("l_suppkey")).alias("s"),
    ).collect()[0]
    # mean per-file box area must be a small fraction of the domain area
    mean_area = sum(r["p_span"] * r["s_span"] for r in per_file) / len(per_file)
    assert mean_area < 0.25 * dom["p"] * dom["s"], mean_area / (dom["p"] * dom["s"])


def test_freq_items_inclusion_guarantee(spark):
    """The sketch may over-report but must NEVER miss a true heavy
    hitter: every bucket with exact frequency > 1% appears in the
    result, and the candidate list stays sketch-sized (≲ 1/support)."""
    from bishe_gpu_database_spark.operators.quality import agg_freq_items

    r = agg_freq_items(spark, SF_SMALL).collect()[0]
    li = t(spark, SF_SMALL, "lineitem").select(
        F.when(F.col("l_linenumber") == 1, F.lit(-1))
        .otherwise(F.col("l_orderkey") % 4096)
        .alias("bucket")
    )
    n = li.count()
    exact_hh = {
        row["bucket"]
        for row in li.groupBy("bucket").count().filter(F.col("count") > 0.01 * n).collect()
    }
    assert -1 in exact_hh  # the constructed hot head really is hot
    assert r["n_true_heavy"] == len(exact_hh)
    assert r["all_true_found"] is True  # no-false-negative guarantee held
    assert r["candidates_bounded"] is True  # ≤ 1/support candidates


def test_kmeans_sse_monotone_nonincreasing(spark):
    """Lloyd's guarantee: within-cluster SSE never increases across
    iterations, and every cell stays populated."""
    from bishe_gpu_database_spark.operators.similarity import ann_kmeans_train

    rows = sorted(
        ann_kmeans_train(spark, SF_SMALL).collect(), key=lambda r: r["iteration"]
    )
    assert len(rows) == 3
    n_vecs = t(spark, SF_SMALL, "embeddings").count()
    for r in rows:
        assert r["n_assigned"] == n_vecs
        assert r["sse_nonincreasing"] is True
        assert r["all_cells_populated"] is True


def test_range_layout_files_are_disjoint_time_slices(spark):
    """Every range-layout output file covers a time interval that
    overlaps no other file's interval (modulo boundary rows sharing one
    timestamp) — the property that lets parquet footer stats skip every
    file outside a time-range predicate."""
    from bishe_gpu_database_spark.sources.formats import (
        range_layout_path,
        sink_range_layout,
    )

    sink_range_layout(spark, SF_SMALL).collect()  # ensure layout written
    back = spark.read.parquet(range_layout_path(SF_SMALL))
    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi"))
        .collect()
    )
    assert len(per_file) >= 8
    spans = sorted((r["lo"], r["hi"]) for r in per_file)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (hi1, lo2)


def test_sequence_gaps_surfaces_fully_empty_buckets(spark, tmp_path):
    """Keys 0..999 and 3000..3010: buckets 1 and 2 hold ZERO keys and must
    each surface as a row with present=0 and missing = full bucket width —
    the r2 implementation emitted no row for them (ADVICE.md, medium)."""
    from bishe_gpu_database_spark.operators.quality import quality_sequence_gaps

    keys = list(range(0, 1000)) + list(range(3000, 3011))
    df = spark.createDataFrame([(k,) for k in keys], "l_orderkey bigint")
    d = synthetic_dir(tmp_path, "lineitem", df)
    out = {r["bucket"]: r for r in quality_sequence_gaps(spark, d).collect()}
    assert set(out) == {1, 2}
    for b in (1, 2):
        assert out[b]["present"] == 0
        assert out[b]["expected"] == 1000
        assert out[b]["missing"] == 1000


def test_sequence_gaps_no_gaps_yields_empty(spark, tmp_path):
    from bishe_gpu_database_spark.operators.quality import quality_sequence_gaps

    df = spark.createDataFrame([(k,) for k in range(500, 2500)], "l_orderkey bigint")
    d = synthetic_dir(tmp_path, "lineitem", df)
    assert quality_sequence_gaps(spark, d).count() == 0
