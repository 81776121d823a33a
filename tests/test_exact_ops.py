"""Independent-reference tests for the exact-arithmetic operators: the
DuckDB oracle proves Spark and DuckDB agree; these prove the shared
formula agrees with a THIRD, straightforward implementation (pure
Python / numpy), guarding against both engines encoding the same
mistake: the sliding median, the geo grid-bucket join on cell-boundary
straddlers, and the fixed-point power iteration's exact recurrence and
Rayleigh monotonicity."""

from __future__ import annotations

import math
import random
import re

import numpy as np
from pyspark.sql import functions as F

from bishe_gpu_database_spark.operators.geo import _CELL, _D, _bucketed_candidates
from bishe_gpu_database_spark.operators.relational import t
from bishe_gpu_database_spark.registry import REGISTRY, _ensure_loaded
from tests.conftest import SF_MEDIUM, SF_SMALL


def _tokens(text: str) -> list[str]:
    return [w for w in re.sub(r"\s+", " ", text.lower()).strip().split(" ") if w]


def test_bm25_matches_float_reference(spark):
    """The integer-rational BM25 (k1=1.2, b=0.75) must equal the textbook
    float formula to ~1e-6 relative (the rational form IS the same
    number, modulo the final rounding both engines apply)."""
    _ensure_loaded()
    got = {r["doc_id"]: r["bm25"] for r in
           REGISTRY["text_bm25_topk"].fn(spark, SF_SMALL).collect()}
    docs = {r["doc_id"]: _tokens(r["text"]) for r in
            t(spark, SF_SMALL, "documents").select("doc_id", "text").collect()}
    terms = ["spark", "vector", "stream"]
    N = len(docs)
    avgdl = sum(len(ts) for ts in docs.values()) / N
    df = {q: sum(1 for ts in docs.values() if q in ts) for q in terms}
    k1, b = 1.2, 0.75
    for doc_id, spark_score in got.items():
        ts = docs[doc_id]
        ref = 0.0
        for q in terms:
            tf = ts.count(q)
            if tf == 0:
                continue
            idf = (N - df[q] + 0.5) / (df[q] + 0.5)
            ref += round(idf * tf * (k1 + 1)
                         / (tf + k1 * (1 - b + b * len(ts) / avgdl)), 6)
        assert math.isclose(spark_score, ref, rel_tol=1e-9, abs_tol=1e-6), (
            doc_id, spark_score, ref)


def test_ewma_matches_python_fold(spark):
    """The x128 integer EWMA must EXACTLY equal a direct Python fold of
    the weight table over each user's trailing window."""
    _ensure_loaded()
    got = {r["event_id"]: (r["n_window"], r["ewma_cents_x128"]) for r in
           REGISTRY["timeseries_ewma_halflife"].fn(spark, SF_SMALL).collect()}
    ev = sorted(
        t(spark, SF_SMALL, "events")
        .select("event_id", "user_id", "ts",
                F.round(F.col("value") * 100).cast("bigint").alias("cents"))
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    by_user: dict[int, list] = {}
    for r in ev:
        hist = by_user.setdefault(r["user_id"], [])
        hist.append(r["cents"])
        win = hist[-8:][::-1]  # newest first
        n = len(win)
        ws = [2 ** (6 - i) for i in range(n - 1)] + [2 ** (8 - n) if n > 1 else 128]
        ref = sum(c * w for c, w in zip(win, ws))
        assert got[r["event_id"]] == (n, ref), (r["event_id"], got[r["event_id"]], ref)


def test_linreg_and_moments_match_numpy(spark):
    """Exact-moment OLS/correlation and skewness/kurtosis must match
    numpy computed from the raw points (tolerance: the operators round
    to 6 decimals)."""
    _ensure_loaded()
    li = (
        t(spark, SF_SMALL, "lineitem")
        .select("l_returnflag",
                F.col("l_quantity").cast("bigint").alias("x"),
                F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"))
        .collect()
    )
    groups: dict[str, list] = {}
    for r in li:
        groups.setdefault(r["l_returnflag"], []).append((r["x"], r["y"]))
    lin = {r["l_returnflag"]: r for r in
           REGISTRY["agg_linreg_exact"].fn(spark, SF_SMALL).collect()}
    mom = {r["l_returnflag"]: r for r in
           REGISTRY["agg_moments_exact"].fn(spark, SF_SMALL).collect()}
    for flag, pts in groups.items():
        x = np.array([p[0] for p in pts], dtype=float)
        y = np.array([p[1] for p in pts], dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        corr = np.corrcoef(x, y)[0, 1]
        assert math.isclose(lin[flag]["slope_cents_per_qty"], slope,
                            rel_tol=1e-6, abs_tol=1e-4)
        assert math.isclose(lin[flag]["intercept_cents"], intercept,
                            rel_tol=1e-6, abs_tol=1e-2)
        assert math.isclose(lin[flag]["corr_xy"], corr, rel_tol=1e-6, abs_tol=1e-6)
        var = x.var()  # population
        skew = ((x - x.mean()) ** 3).mean() / var ** 1.5
        kurt = ((x - x.mean()) ** 4).mean() / var ** 2
        assert math.isclose(mom[flag]["variance_pop"], var, rel_tol=1e-9, abs_tol=1e-6)
        assert math.isclose(mom[flag]["skewness_pop"], skew, rel_tol=1e-6, abs_tol=1e-6)
        assert math.isclose(mom[flag]["kurtosis_pop"], kurt, rel_tol=1e-6, abs_tol=1e-6)


def test_simpson_matches_python(spark):
    """Simpson diversity: exact rational vs direct Python count."""
    _ensure_loaded()
    got = {r["doc_id"]: r for r in
           REGISTRY["text_simpson_diversity"].fn(spark, SF_SMALL).collect()}
    docs = t(spark, SF_SMALL, "documents").select("doc_id", "text").collect()
    from collections import Counter

    for r in docs:
        ts = _tokens(r["text"])
        n = len(ts)
        if n < 2:
            assert r["doc_id"] not in got
            continue
        c = Counter(ts)
        num = sum(v * (v - 1) for v in c.values())
        row = got[r["doc_id"]]
        assert row["n_tokens"] == n and row["n_distinct"] == len(c)
        assert math.isclose(row["simpson"], round(num / (n * (n - 1)), 6),
                            rel_tol=0, abs_tol=1e-9)


def test_sliding_median_matches_python_rolling(spark):
    """Recompute the 5-row rolling doubled-median in plain Python over
    the same (ts, event_id) order and compare every row."""
    from bishe_gpu_database_spark.operators.relational import (
        t,
        window_median_sliding,
    )

    got = {
        (r["event_type"], r["event_id"]): (r["n_in_frame"], r["median_2x_cents"])
        for r in window_median_sliding(spark, SF_SMALL).collect()
    }
    ev = sorted(
        t(spark, SF_SMALL, "events")
        .select("event_type", "ts", "event_id", F.round(F.col("value") * 100).cast("bigint").alias("cents"))
        .collect(),
        key=lambda r: (r["event_type"], r["ts"], r["event_id"]),
    )
    by_type: dict = {}
    for r in ev:
        hist = by_type.setdefault(r["event_type"], [])
        hist.append(r["cents"])
        win = sorted(hist[-5:])
        n = len(win)
        want = (n, win[(n - 1) // 2] + win[n // 2])
        assert got[(r["event_type"], r["event_id"])] == want


def test_geo_neighbor_bucketing_complete_on_boundaries(spark):
    """Points placed straddling cell boundaries (distance exactly _D,
    _D±1, across a corner) through the production _bucketed_candidates —
    must produce exactly the brute-force Chebyshev-ball pairs in both
    directed and undirected modes."""
    rng = random.Random(11)
    pts = [(i, rng.randrange(0, 4 * _CELL), rng.randrange(0, 4 * _CELL)) for i in range(60)]
    # Adversarial straddlers around the cell seam at x = _CELL.
    nid = len(pts)
    for dx, dy in [(_D, 0), (_D + 1, 0), (_D, _D), (0, _D + 1), (-_D, _D)]:
        pts.append((nid, _CELL - 1, _CELL - 1))
        pts.append((nid + 1, _CELL - 1 + dx, _CELL - 1 + dy))
        nid += 2
    df = spark.createDataFrame(pts, "k int, x long, y long").localCheckpoint()
    expected = {
        (a[0], b[0])
        for i, a in enumerate(pts)
        for b in pts[i + 1 :]
        if abs(a[1] - b[1]) <= _D and abs(a[2] - b[2]) <= _D
    }
    got = {(r.u, r.v) for r in _bucketed_candidates(df, directed=False).collect()}
    assert got == expected
    assert expected, "fixture must contain neighbor pairs"
    got_directed = {
        (r.u, r.v) for r in _bucketed_candidates(df, directed=True).collect()
    }
    assert got_directed == expected | {(v, u) for (u, v) in expected}


def test_geo_neighbor_pairs_emitted_once(spark):
    """Each qualifying pair appears exactly once (the 3x3 probe explosion
    joins a unique home cell per partner)."""
    from bishe_gpu_database_spark.operators.geo import geo_neighbor_pairs

    df = geo_neighbor_pairs(spark, SF_MEDIUM)
    n = df.count()
    nd = df.select("u", "v").distinct().count()
    assert n == nd


def test_pca_power_rayleigh_monotone_and_exact(spark):
    """The fixed-point power iteration must (a) reproduce the exact
    integer recurrence bit-for-bit and (b) satisfy the power-method
    invariant: the Rayleigh quotient R(q_k) = qGq/qq is non-decreasing
    across iterations."""
    import numpy as np

    from bishe_gpu_database_spark.operators.similarity import embedding_pca_power3

    sf = SF_SMALL
    rows = spark.read.parquet(f"{sf}/embeddings.parquet").select("embedding").collect()
    V = np.floor(np.array([r.embedding for r in rows], dtype=np.float64) * 1048576).astype(
        np.int64
    )
    G = (V.astype(np.float64).T @ V.astype(np.float64))

    def rayleigh(q):
        qf = q.astype(np.float64)
        return (qf @ G @ qf) / (qf @ qf)

    q = np.full(64, 1048576, dtype=np.int64)
    rs = [rayleigh(q)]
    for _ in range(3):
        dots = V @ q
        sd = np.max(np.abs(dots)) // 2**20 + 1
        dots = np.sign(dots) * (np.abs(dots) // sd)
        w = V.T @ dots
        sw = np.max(np.abs(w)) // 2**20 + 1
        q = np.sign(w) * (np.abs(w) // sw)
        rs.append(rayleigh(q))
    # (b) invariant: strictly improving on this fixture, non-decreasing always
    assert all(rs[i + 1] >= rs[i] for i in range(3)), rs
    assert rs[3] > rs[0], rs
    # (a) the distributed result equals the exact integer recurrence
    got = {
        r.dim: r.q_fx for r in embedding_pca_power3(spark, sf).collect()
    }
    want = {i + 1: int(q[i]) for i in range(64)}
    assert got == want
