"""Driver-shaped parity gate: every registered query with an oracle must
hash-match DuckDB on the same parquet (SURVEY.md §5.2 item 1).

Runs at sf0.001 for speed; ``scripts/sweep.py parity`` covers sf0.01,
the correctness-gate scale. Every registered query must have an oracle:
none is left to a rows-only check.
"""

from __future__ import annotations

import pytest

from bishe_gpu_database_spark.registry import REGISTRY, _ensure_loaded
from tests.conftest import SF_SMALL, compare_query_to_oracle

_ensure_loaded()
ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, name):
    spec = REGISTRY[name]
    ok, msg = compare_query_to_oracle(spark, SF_SMALL, name, spec.fn, spec.oracle)
    assert ok, msg


def test_every_query_has_an_oracle():
    rows_only = sorted(n for n, s in REGISTRY.items() if s.oracle is None)
    assert not rows_only, f"queries without a DuckDB oracle: {rows_only}"
