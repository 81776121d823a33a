"""bishe_gpu_database_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference `lvhaodong0114/bishe-gpu-database` (a GPU-resident KV store with
Aria-style deterministic epoch transactions), re-expressed Spark-first:

- the keyed mutable table is a DataFrame (``aria.engine``),
- GPU kernels become joins / aggregations / window functions,
- the atomic min-Tid reservation word becomes ``groupBy(k).agg(min(tid))``,
- the epoch retry loop is a driver-side micro-batch (also exposed through
  Structured Streaming ``foreachBatch`` in ``streaming``),
- on top, the full relational + LLM-data-pipeline surface (scans, all join
  flavors, hash/rollup/window aggregation, sorts, set ops, scalar functions,
  dedup, similarity search, text analysis, multimodal columns) as declarative
  DataFrame plans optimized by Catalyst/AQE.

No code is copied from the reference; reference files are cited in
docstrings as ``ref: file:line`` for semantic parity only.
"""

__version__ = "0.1.0"

from bishe_gpu_database_spark.session import get_spark  # noqa: F401
