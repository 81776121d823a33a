"""Semantic invariants for the corpus-mining / sessionization / outlier
operators beyond oracle parity: ratio bounds, session gap property,
3-sigma cross-check in float, mode maximality, reshape conservation,
the A/B test's FALSE (never NULL) verdict and overflow-safe inequality,
and the seasonal index's event-weighted centering."""

from __future__ import annotations

import datetime
import math

from pyspark.sql import functions as F

from bishe_gpu_database_spark.operators.functions_q import agg_mode_per_key, unpivot_melt
from bishe_gpu_database_spark.operators.mining import (
    text_lift_bigrams,
    text_repetition,
    text_salience_topk,
)
from bishe_gpu_database_spark.operators.pipeline import pipeline_quality_gate
from bishe_gpu_database_spark.operators.relational import t
from bishe_gpu_database_spark.operators.timeseries import (
    events_sessionize,
    timeseries_zscore_outliers,
)
from tests.conftest import SF_SMALL, synthetic_dir


def test_repetition_ratios_bounded(spark):
    """0 < uniq_token_ratio ≤ 1; 0 ≤ top_bigram_frac ≤ 1; the top bigram
    can never occur more often than there are bigrams."""
    rows = text_repetition(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 < r["uniq_token_ratio"] <= 1
        assert 0 <= r["top_bigram_frac"] <= 1
        assert r["top_bigram_n"] <= max(r["n_tokens"] - 1, 0)


def test_salience_ranks_are_topk_and_exact(spark):
    """Exactly ≤3 terms per doc, ranked by the integer salience; every
    salience equals tf·N·10^6 // df recomputed from raw counts."""
    out = text_salience_topk(spark, SF_SMALL)
    per_doc = out.groupBy("doc_id").count().collect()
    assert per_doc and all(r["count"] <= 3 for r in per_doc)
    docs = t(spark, SF_SMALL, "documents")
    n_docs = docs.count()
    # recompute df for the selected tokens only (cheap at test SF)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").count().withColumnRenamed("count", "tf")
    df_ = tf.groupBy("token").count().withColumnRenamed("count", "df")
    joined = out.join(tf, ["doc_id", "token"]).join(df_, "token").collect()
    assert len(joined) == out.count()
    for r in joined:
        assert r["tf"] * 1_000_000 * n_docs // r["df"] == r["salience_ppm"]


def test_lift_bigrams_floor_and_order(spark):
    """Top-20 lift list is sorted desc, every pair ≥ the count floor."""
    rows = text_lift_bigrams(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 20
    assert all(r["pair_n"] >= 5 for r in rows)
    lifts = [r["lift_ppm"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_sessionize_partitions_all_events_with_max_gap(spark):
    """Sessions partition the event stream exactly; within a session no
    consecutive gap exceeds 30 minutes (spot-checked per user)."""
    sessions = events_sessionize(spark, SF_SMALL)
    total = t(spark, SF_SMALL, "events").count()
    agg = sessions.agg(F.sum("n_events").alias("s"), F.min("duration_s").alias("d")).collect()[0]
    assert agg["s"] == total
    assert agg["d"] >= 0
    # gap property: recompute per-user sorted streams for a few users
    ev = (
        t(spark, SF_SMALL, "events")
        .filter(F.col("user_id") < 3)
        .select("user_id", "ts", "event_id")
        .orderBy("user_id", "ts", "event_id")
        .collect()
    )
    sess = {
        (r["user_id"], r["session_id"]): r
        for r in sessions.filter(F.col("user_id") < 3).collect()
    }
    # walk each user's stream and re-derive session boundaries
    cur_user, cur_sess, prev_ts = None, 0, None
    counts: dict[tuple, int] = {}
    for r in ev:
        if r["user_id"] != cur_user:
            cur_user, cur_sess, prev_ts = r["user_id"], 1, None
        if prev_ts is not None and (r["ts"] - prev_ts).total_seconds() > 1800:
            cur_sess += 1
        prev_ts = r["ts"]
        counts[(cur_user, cur_sess)] = counts.get((cur_user, cur_sess), 0) + 1
    assert {k: v for k, v in counts.items()} == {
        k: v["n_events"] for k, v in sess.items()
    }


def test_zscore_outliers_deviate_three_sigma(spark):
    """Every flagged event's |z| > 3 when recomputed in plain float —
    the integer-cleared inequality agrees with the float z-score (away
    from exact-boundary ties, which the fixture has none of)."""
    ev = t(spark, SF_SMALL, "events").select("event_type", "value").collect()
    by_type: dict[str, list[float]] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(round(r["value"] * 100))
    stats = {
        k: (sum(v) / len(v), math.sqrt(max(sum(x * x for x in v) / len(v) - (sum(v) / len(v)) ** 2, 0)))
        for k, v in by_type.items()
    }
    flagged = timeseries_zscore_outliers(spark, SF_SMALL).collect()
    assert flagged
    for r in flagged:
        mean, sigma = stats[r["event_type"]]
        assert abs(r["value_cents"] - mean) > 2.999 * sigma


def test_mode_is_maximal(spark):
    """The reported mode count is the max count over that user's types."""
    ev = t(spark, SF_SMALL, "events").groupBy("user_id", "event_type").count().collect()
    best: dict[int, int] = {}
    for r in ev:
        best[r["user_id"]] = max(best.get(r["user_id"], 0), r["count"])
    for r in agg_mode_per_key(spark, SF_SMALL).collect():
        assert r["n"] == best[r["user_id"]]


def test_unpivot_conserves_cells(spark):
    """melt emits exactly 4 rows per input row, one per measure, and
    round-trips the cell values."""
    li = t(spark, SF_SMALL, "lineitem").filter(F.col("l_orderkey") < 1000)
    n = li.count()
    out = unpivot_melt(spark, SF_SMALL)
    assert out.count() == 4 * n
    assert out.select("measure").distinct().count() == 4
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic fixture,
    # so compare as multisets of melted cells.
    from collections import Counter

    melted = Counter(
        (r["l_orderkey"], r["l_linenumber"], r["measure"], r["amount"])
        for r in out.collect()
    )
    expected = Counter()
    for r in li.collect():
        for m in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
            expected[(r["l_orderkey"], r["l_linenumber"], m, r[m])] += 1
    assert melted == expected


def test_quality_gate_counts_consistent(spark):
    """Accepted + each rejection reason never exceeds doc count; totals
    cover the corpus."""
    rows = pipeline_quality_gate(spark, SF_SMALL).collect()
    assert rows
    total = t(spark, SF_SMALL, "documents").count()
    assert sum(r["n_docs"] for r in rows) == total
    for r in rows:
        assert r["n_accepted"] <= r["n_docs"]
        for rule in ("n_too_short", "n_too_long", "n_high_punct", "n_repetitive"):
            assert 0 <= r[rule] <= r["n_docs"]
        # a doc is accepted iff no rule fired, so rejections cover the rest
        assert (
            r["n_too_short"] + r["n_too_long"] + r["n_high_punct"] + r["n_repetitive"]
            >= r["n_docs"] - r["n_accepted"]
        )


def test_funnel_conversion_consistency(spark):
    """Every signup user appears exactly once; converted rows carry a
    strictly-positive time-to-convert; non-converted carry nulls."""
    from bishe_gpu_database_spark.operators.timeseries import events_funnel

    rows = events_funnel(spark, SF_SMALL).collect()
    ev = t(spark, SF_SMALL, "events")
    n_signup_users = (
        ev.filter(F.col("event_type") == "signup").select("user_id").distinct().count()
    )
    assert len(rows) == n_signup_users
    for r in rows:
        if r["converted"]:
            assert r["first_purchase_ts"] > r["signup_ts"]
            assert r["seconds_to_convert"] >= 0
        else:
            assert r["first_purchase_ts"] is None and r["seconds_to_convert"] is None


def test_retention_day0_counts_cohort_size(spark):
    """day_offset=0 rows count every user in the cohort (everyone is
    active on their first-seen day), and offsets never exceed 7."""
    from bishe_gpu_database_spark.operators.timeseries import retention_cohorts

    rows = retention_cohorts(spark, SF_SMALL).collect()
    assert rows
    assert all(0 <= r["day_offset"] <= 7 for r in rows)
    day0 = {r["cohort_day"]: r["n_active"] for r in rows if r["day_offset"] == 0}
    ev = t(spark, SF_SMALL, "events")
    cohorts = (
        ev.groupBy("user_id")
        .agg(F.date_trunc("DAY", F.min("ts")).cast("date").alias("cohort_day"))
        .groupBy("cohort_day")
        .count()
        .collect()
    )
    assert day0 == {r["cohort_day"]: r["count"] for r in cohorts}


def test_ab_test_single_arm_false_not_null(spark, tmp_path):
    """One user => one populated arm. The verdict must be a deterministic
    FALSE (gated), not NULL, and the empty arm's counts must read 0
    (ADVICE.md, low: degenerate assignment previously yielded NULLs)."""
    from bishe_gpu_database_spark.operators.mining import events_ab_test

    ts = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, ts, 7, "purchase", 1.0, "{}")],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    d = synthetic_dir(tmp_path, "events", df)
    r = events_ab_test(spark, d).collect()[0]
    assert r["significant_95"] is False
    # exactly one arm populated, the other zero-filled
    assert sorted([r["n0"], r["n1"]]) == [0, 1]
    assert r["c0"] is not None and r["c1"] is not None


def test_ab_test_overflow_safe_at_large_counts(spark):
    """The significance inequality must evaluate in DECIMAL(38,0), not
    64-bit: with 1e8 users/arm and a 1000-ppm rate gap the old BIGINT form
    overflows (ANSI: throws). Evaluate the exact production expression on
    a literal row at that scale and check the verdict is sane."""
    row = spark.sql(
        """
        SELECT coalesce(
          CAST(r0 - r1 AS DECIMAL(38,0)) * (r0 - r1) * n0 * n1 * 10000
            > CAST(38416 AS DECIMAL(38,0)) * pp * (1000000 - pp) * (n0 + n1),
          false) AS significant_95
        FROM (SELECT CAST(100000000 AS BIGINT) AS n0,
                     CAST(100000000 AS BIGINT) AS n1,
                     CAST(51000 AS BIGINT) AS r0,
                     CAST(50000 AS BIGINT) AS r1,
                     CAST(50500 AS BIGINT) AS pp)
        """
    ).collect()[0]
    # z ~ 32 at this scale: decisively significant; the unfixed form
    # raises ARITHMETIC_OVERFLOW here instead.
    assert row["significant_95"] is True


def test_seasonal_profile_index_centers_on_million(spark):
    """The event-weighted mean of the seasonal index is 1e6 by
    construction (cell_avg/global_avg weighted by cell size), and counts
    partition the corpus."""
    from bishe_gpu_database_spark.operators.relational import t
    from bishe_gpu_database_spark.operators.timeseries import (
        timeseries_seasonal_profile,
    )

    rows = timeseries_seasonal_profile(spark, SF_SMALL).collect()
    n_total = t(spark, SF_SMALL, "events").count()
    assert sum(r["n_events"] for r in rows) == n_total
    weighted = sum(r["seasonal_ppm"] * r["n_events"] for r in rows) / n_total
    assert abs(weighted - 1_000_000) < 200  # truncation slack only
    for r in rows:
        assert 0 <= r["dow"] <= 6 and 0 <= r["hour"] <= 23
