"""``olap_headline``: the 28 headline queries, each written to the noop sink
once per pass, by one closed-loop client (the next query is submitted when
the previous one returns). The fixture is generated from the seed; every
query's result is hash-checked against its DuckDB oracle outside the
timed region."""

from __future__ import annotations

import gc
import math
import os
import time
from contextlib import nullcontext

import datagen
from bench import HEADLINE  # the repo's headline set, one query per operator family
from harness import median, peak_rss_mb, reset_peak_rss, tail

SF = 0.01  # fixture scale: 60k lineitem rows
TAIL_PCT = 60.0  # 28 samples per pass leave 11 above p60
GEN_REPS = 3


def _norm_cell(v) -> str:
    """Stringify one cell the way the engine's oracle gate does."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def normalize(columns: list[str], rows: list) -> tuple[list[str], list[tuple]]:
    """Order-insensitive shape: columns sorted by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [columns[i] for i in order], sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    )


def check_against_duckdb(fixture_dir: str, results: dict, oracles: dict) -> dict[str, str]:
    """Compare each collected Spark result with its DuckDB oracle on the
    same parquet files; returns {query: reason} for every mismatch."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in datagen.TABLE_NAMES:
            path = os.path.join(fixture_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        bad = {}
        for name, (cols, rows) in results.items():
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            s = normalize(cols, rows)
            d = normalize(d_cols, res.fetchall())
            if s[0] != d[0]:
                bad[name] = f"columns {s[0]} vs {d[0]}"
            elif len(s[1]) != len(d[1]):
                bad[name] = f"rows {len(s[1])} vs {len(d[1])}"
            elif s[1] != d[1]:
                bad[name] = "values differ"
        return bad
    finally:
        con.close()


def run(spark, tracer, seed: int, seconds: float, work: str, log) -> dict:
    from bishe_gpu_database_spark.operators.relational import _RELAYOUT_TABLES, t
    from bishe_gpu_database_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    fixture = os.path.join(work, "fixture")
    gen = []
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        counts = datagen.write(seed, SF, fixture)
        gen.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    for tbl in sorted(_RELAYOUT_TABLES):
        t(spark, fixture, tbl).count()
    ingest_s = time.perf_counter() - t0

    # Warm-up pass, which is also the output check: the first execution of
    # every query pays JIT and codegen, so it is collected (not timed) and
    # hashed against DuckDB afterwards.
    failures: dict[str, str] = {}
    results = {}
    t0 = time.perf_counter()
    for name in HEADLINE:
        try:
            df = REGISTRY[name].fn(spark, fixture)
            results[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception as e:  # a raising query is a counted failure
            failures[name] = f"raised {type(e).__name__}: {str(e)[:200]}"
    warmup_s = time.perf_counter() - t0
    failures.update(
        check_against_duckdb(fixture, results, {n: REGISTRY[n].oracle for n in results})
    )
    for name, why in failures.items():
        log(f"check failed: {name}: {why}")

    def one_pass(traced: bool) -> tuple[list[float], int]:
        span = tracer.span if traced else _no_span
        lat, failed = [], 0
        for name in HEADLINE:
            t0 = time.perf_counter()
            try:
                with span(f"query:{name}", query=name):
                    with span("build"):
                        df = REGISTRY[name].fn(spark, fixture)
                    with span("exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                failed += 1
                log(f"{name} raised {type(e).__name__}: {str(e)[:200]}")
            lat.append(time.perf_counter() - t0)
        return lat, failed

    # Timed region: whole passes until the budget is spent (at least one).
    lat: list[float] = []
    pass_walls: list[float] = []
    failed = 0
    del results
    gc.collect()
    rss_reset = reset_peak_rss()
    start = time.perf_counter()
    while not pass_walls or time.perf_counter() - start < seconds:
        t0 = time.perf_counter()
        p_lat, p_failed = one_pass(False)
        pass_walls.append(time.perf_counter() - t0)
        lat += p_lat
        failed += p_failed
    measured_s = time.perf_counter() - start
    peak_rss = peak_rss_mb()

    tail_v, tail_pct, beyond = tail(lat, TAIL_PCT)
    out = {
        "attempted": len(lat) + len(HEADLINE),
        "failed": failed + len(failures),
        "e2e": {
            "throughput_per_s": (len(lat) / measured_s, "1/s"),
            "latency_p50_s": (median(lat), "s"),
            "latency_tail_s": (tail_v, "s"),
            "peak_rss_mb": (peak_rss, "MiB"),
        },
        "setup": {"gen_s": median(gen), "ingest_s": ingest_s, "warmup_s": warmup_s},
        "stamp": {
            "sf": SF,
            "fixture_rows": counts,
            "passes": len(pass_walls),
            "samples": len(lat),
            "tail_percentile": tail_pct,
            "samples_beyond_tail": beyond,
            "peak_rss_reset": rss_reset,
            "queries_per_s": len(lat) / measured_s,
            "check_failures": failures,
        },
    }
    if tracer.enabled:
        out["layers"] = _traced_layers(spark, tracer, REGISTRY, fixture, one_pass, pass_walls)
    return out


def _traced_layers(spark, tracer, registry, fixture, one_pass, pass_walls) -> dict:
    # Catalyst, in a pass of its own: force the physical plan of each
    # query's own QueryExecution, so planning is never counted twice.
    plan_s = 0.0
    for name in HEADLINE:
        df = registry[name].fn(spark, fixture)
        with tracer.span(f"plan:{name}", query=name) as sp:
            df._jdf.queryExecution().executedPlan()
        plan_s += sp["end"] - sp["start"]
    first = len(tracer.spans)
    t0 = time.perf_counter()
    one_pass(True)
    traced_wall = time.perf_counter() - t0
    spans = tracer.spans[first:]
    layers = {
        "query.build_s": 0.0,
        "query.build_jobs": 0,
        "query.plan_s": plan_s,
        "query.exec_s": 0.0,
        "query.exec_jobs": 0,
        "query.stages": 0,
        "query.tasks": 0,
        "query.failed_tasks": 0,
    }
    for sp in spans:
        d = sp["end"] - sp["start"]
        if sp["name"].startswith("query:"):
            layers[f"query.wall_s.{sp['query']}"] = d
        elif sp["name"] in ("build", "exec"):
            layers[f"query.{sp['name']}_s"] += d
            layers[f"query.{sp['name']}_jobs"] += sp["jobs"]
            layers["query.stages"] += sp["stages"]
            layers["query.tasks"] += sp["tasks"]
            layers["query.failed_tasks"] += sp["failed_tasks"]
    layers["trace.overhead_ratio"] = traced_wall / median(pass_walls)
    return layers


def _no_span(*_args, **_attrs):
    return nullcontext()
