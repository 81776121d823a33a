"""Empty-input robustness: every registered query must execute (not
crash) against zero-row fixture tables with the production schemas.

At 100 TB an empty input is routine — a date-range filter that matches
nothing, a new partition before its first load, a dead tenant. Operators
that assume ≥1 row (``head()[0]``, schema inference over a file-less
directory, division by a zero count) turn that routine event into a
pipeline incident. This sweep certifies the whole surface degrades to
empty (or constant-row) output instead.

Regression anchor: the source/sink round-trips originally re-read their
written directory with schema inference, which throws
UNABLE_TO_INFER_SCHEMA when the upstream wrote zero data files; they now
declare the schema on read (sources/formats.py).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from bishe_gpu_database_spark.registry import REGISTRY, _ensure_loaded
from tests.conftest import SF_SMALL


def make_empty_sf_dir(base_sf: str, out_dir: str) -> None:
    """Write a zero-row parquet per fixture table, schema copied from
    ``base_sf`` so every query plans identically."""
    for fname in sorted(os.listdir(base_sf)):
        if not fname.endswith(".parquet"):
            continue
        schema = pq.read_schema(os.path.join(base_sf, fname))
        pq.write_table(schema.empty_table(), os.path.join(out_dir, fname))


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_empty"))
    make_empty_sf_dir(SF_SMALL, d)
    return d


def _all_query_names():
    _ensure_loaded()
    return sorted(REGISTRY)


@pytest.mark.parametrize("name", _all_query_names())
def test_query_survives_empty_input(spark, empty_sf_dir, name):
    df = REGISTRY[name].fn(spark, empty_sf_dir)
    # collect() forces full execution of every operator in the plan;
    # any row count (incl. 0) is acceptable — only a crash fails.
    rows = df.collect()
    assert rows is not None
