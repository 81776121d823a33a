"""bench.py's driver surface, without Spark: the HEADLINE list that
perfbench/ imports, and the one JSON line the driver parses from the
last 2,000 chars of stdout."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_mod"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_headline_list_unchanged_by_refactor():
    bench = _bench()
    assert len(bench.HEADLINE) == 28
    assert len(set(bench.HEADLINE)) == 28
    assert bench.HEADLINE[0] == "q1_pricing_summary"


def test_compact_line_fits_driver_tail():
    """Even a 40-query headline (1.4x the real 28) fits the driver's
    tail with margin, and the line carries exactly the contract keys."""
    bench = _bench()
    # 22-char names = the real HEADLINE's average length.
    qs = {f"operator_query_nm_{i:02d}": round(0.1 + i * 0.037, 3) for i in range(40)}
    line = bench.driver_line(qs, "/data/sf0.1")
    assert len(line) < 1900, f"driver line {len(line)} chars"
    payload = json.loads(line)
    assert set(payload) == {"metric", "value", "unit", "queries", "sf"}
    assert payload["queries"] == qs
    assert payload["value"] == round(sum(qs.values()), 3)
    assert payload["sf"] == 0.1
