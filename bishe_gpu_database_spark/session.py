"""SparkSession construction and session-conf scoping.

Fixture tables are read through ``operators.relational.t()``.

Scale notes (design target is a 1000-executor cluster on ~100 TB):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast decisions replace any hand-tuned plan.
- ``spark.sql.shuffle.partitions`` is a *default*; at cluster scale it is
  overridden per-deploy (rule of thumb: 2-3x total cores, ~128 MB of
  shuffle data per partition).
- Timestamps pinned to UTC so results hash identically against the
  DuckDB oracle.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(app_name: str = "bishe_gpu_database_spark") -> SparkSession:
    """Build (or reuse) the session with scale-oriented defaults. Cores
    default to the process's CPU affinity."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # GPU path (the north-star deployment shape): when a RAPIDS Accelerator
    # jar is provided, register the plugin and let it claim whatever plan
    # nodes it supports — everything here is DataFrame/SQL-declarative, so
    # the same logical plans run columnar-on-GPU without code changes.
    # Off by default: this container has no GPU; correctness never depends
    # on it (the DuckDB oracle gates the CPU plans).
    rapids_jar = os.environ.get("SPARK_RAPIDS_PLUGIN_JAR", "")
    if rapids_jar:
        builder = (
            builder.config("spark.jars", rapids_jar)
            .config("spark.plugins", "com.nvidia.spark.SQLPlugin")
            .config("spark.rapids.sql.enabled", "true")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set session confs for the block, then put each key back as it was:
    a key that was unset before is unset again, so the block never leaves
    a value pinned on a session whose defaults someone else chose."""
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
