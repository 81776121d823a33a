"""Aria-style deterministic epoch-batched transactions on DataFrames.

The reference's core: Execute → Commit → Install → Collect per epoch over
a GPU-resident KV table (ref: src/database/ycsb/db.h:111-125). Here the
table is an immutable DataFrame (free snapshot isolation), reservations
are min-Tid aggregates, and the retry loop is driver-side.
"""

from bishe_gpu_database_spark.aria.engine import run_batch  # noqa: F401
