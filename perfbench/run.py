"""The repo benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It starts the engine's Spark session on
local[<cores>] (the cores this process may use), generates the workload
from the seed, measures one closed-loop client for ``--seconds``, checks the
outputs, and prints one JSON object as its last stdout line: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
stamp line before it and a file under ``.perfbench/results/`` record the
seed, cores, versions, session conf and the engine's source-tree hash;
traced runs also write their spans there. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the engine package, bench.py and tests/serial_oracle.py

import harness  # noqa: E402
import olap  # noqa: E402
import ycsb  # noqa: E402

ENGINE = os.path.join(ROOT, "bishe_gpu_database_spark")
WORKLOADS = ("olap_headline", "ycsb_stream_hot", "ycsb_stream_large")
DEFAULT_SEED = 1

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MiB",
}
# Per-layer metrics and their units; every traced run reports all of them,
# with 0 for a layer its workload never enters.
PER_LAYER = {
    "setup.session_s": "s",
    "setup.ingest_s": "s",
    "setup.gen_s": "s",
    "setup.warmup_s": "s",
    "query.build_s": "s",
    "query.build_jobs": "count",
    "query.plan_s": "s",
    "query.exec_s": "s",
    "query.exec_jobs": "count",
    "query.stages": "count",
    "query.tasks": "count",
    "query.failed_tasks": "count",
    "aria.step_jobs": "count",
    "aria.epochs_per_batch": "count",
    "aria.attempts_per_commit": "ratio",
    "aria.probe_jobs": "count",
    "aria.flush_count": "count",
    "aria.flush_s": "s",
    "aria.final_table_s": "s",
    "aria.memtable_keys": "count",
    "aria.known_keys": "count",
    "aria.drain_s": "s",
    "aria.epochs": "count",
    "aria.epoch_s": "s",
    "aria.jobs_per_epoch": "count",
    "aria.merge_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _per_layer_names() -> dict[str, str]:
    return {**PER_LAYER, **{f"query.wall_s.{q}": "s" for q in olap.HEADLINE}}


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # No hsperfdata file in /tmp either.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def log(msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)

    if not os.path.isfile(os.path.join(ENGINE, "session.py")):
        log(f"engine package not found at {ENGINE}; run from the repository root")
        return 2
    tree = harness.git_tree_hash(ENGINE)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results_dir, exist_ok=True)
    _isolate(work)

    spark = None
    try:
        t0 = time.perf_counter()
        from pyspark import SparkContext

        from bishe_gpu_database_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        tracer = harness.Tracer(
            run_id, enabled=bool(args.trace), sc=spark.sparkContext if args.trace else None
        )
        if args.workload == "olap_headline":
            res = olap.run(spark, tracer, args.seed, args.seconds, work, log)
        else:
            res = ycsb.run(args.workload, spark, tracer, args.seed, args.seconds, log)
        setup = {"session_s": session_s, **res["setup"]}
        setup_s = sum(setup.values())
        sc = spark.sparkContext
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "run_id": run_id,
            "nproc": len(os.sched_getaffinity(0)),
            "spark_master": sc.master,
            "spark_cores": sc.defaultParallelism,
            "spark_version": spark.version,
            "python_version": platform.python_version(),
            "engine_tree": tree,
            "session_conf": dict(sorted(sc.getConf().getAll())),
            "sql_conf": {
                k: spark.conf.get(k, None)
                for k in (
                    "spark.sql.shuffle.partitions",
                    "spark.sql.adaptive.enabled",
                    "spark.sql.autoBroadcastJoinThreshold",
                    "spark.sql.session.timeZone",
                )
            },
            "setup": setup,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "error_rate": res["failed"] / res["attempted"],
            **res["stamp"],
        }
        if args.trace:
            names = _per_layer_names()
            layers = {**{k: 0.0 for k in names}, **{f"setup.{k}": v for k, v in setup.items()}}
            layers.update(res["layers"])
            unknown = set(layers) - set(names)
            if unknown:
                raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
            metrics = {k: (layers[k], names[k]) for k in names}
            spans_path = os.path.join(results_dir, f"spans-{run_id}.json")
            tracer.dump(spans_path)
            stamp["spans_file"] = os.path.relpath(spans_path, ROOT)
        else:
            e2e = {"setup_s": setup_s, **{k: v for k, (v, _u) in res["e2e"].items()}}
            metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
        stamp["metrics"] = {k: v for k, (v, _u) in metrics.items()}
        # The JVM's peak follows its garbage collector more than the
        # workload, so it is stamped, not reported as a metric.
        stamp["jvm_peak_rss_mb"] = harness.peak_rss_mb(SparkContext._gateway.proc.pid)
        with open(os.path.join(results_dir, f"result-{run_id}.json"), "w") as fh:
            json.dump(stamp, fh, indent=1)
        print("# stamp " + json.dumps(stamp, separators=(",", ":")), flush=True)
        correct = res["failed"] == 0
        print(
            harness.result_line(
                correct=correct, attempted=res["attempted"], failed=res["failed"], metrics=metrics
            ),
            flush=True,
        )
        return 0 if correct else 1
    except harness.PathGuardError as e:
        log(f"path guard: {e}")
        return 3
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
