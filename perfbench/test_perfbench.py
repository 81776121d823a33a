"""Spark-free self-tests of the benchmark's own logic.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import harness  # noqa: E402
import oracle  # noqa: E402
import ycsb  # noqa: E402
from olap import TAIL_PCT, normalize  # noqa: E402
from tests.serial_oracle import drain  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]
    value, pct, beyond = harness.tail(values, 90.0)
    assert (value, pct, beyond) == (90.0, 90.0, 10)
    # Too few samples for p90: fall back to the rank with exactly 10 above.
    value, pct, beyond = harness.tail(values[:40], 90.0)
    assert (value, beyond) == (30.0, 10) and pct == pytest.approx(75.0)
    # Ten or fewer samples: nothing has ten above it, report the median.
    assert harness.tail([3.0, 1.0, 2.0], 90.0) == (2.0, 50.0, 1)
    # A smaller minimum moves the fallback rank.
    assert harness.tail(values[:20], 90.0, 4) == (16.0, 80.0, 4)


def test_olap_tail_percentile_is_fixed_at_whole_passes():
    for n in range(28, 28 * 8, 28):
        _, pct, beyond = harness.tail([float(i) for i in range(n)], TAIL_PCT)
        assert pct == TAIL_PCT and beyond >= harness.MIN_BEYOND_TAIL, n


def test_large_tail_is_the_median_flush_batch():
    shape = ycsb.SHAPES["ycsb_stream_large"]
    # The backlog batch, then stream batches with every fourth one folding
    # the memtable and slower than any other.
    for n in range(8, 41):
        kinds = ["bulk"] + ["flush" if i % 4 == 3 else "step" for i in range(n)]
        lat = [100.0] + [10.0 + i if k == "flush" else 1.0 + i / 100 for i, k in enumerate(kinds[1:])]
        flush = sorted(w for w, k in zip(lat, kinds) if k == "flush")
        value, pct, _, used = ycsb.latency_tail(shape, lat, kinds)
        assert (pct, used) == (50.0, len(flush)), n
        assert value == flush[(len(flush) - 1) // 2], n


def test_median_and_nearest_rank():
    assert harness.median([3.0, 1.0, 2.0]) == 2.0
    assert harness.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    assert harness.nearest_rank([1.0, 2.0, 3.0, 4.0], 50.0) == (2.0, 2)
    with pytest.raises(ValueError):
        harness.median([])


def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_child_coverage():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: covered once
        _span(3, 1, 1.5, 2.0),  # grandchild: counts against span 1 only
        _span(4, 0, 9.0, 12.0),  # runs past its parent: clipped
    ]
    self_s = {s["id"]: s["self_s"] for s in harness.with_self_time(spans)}
    assert self_s == pytest.approx({0: 10.0 - 5.0 - 1.0, 1: 2.5, 2: 3.0, 3: 0.5, 4: 3.0})


def test_disabled_tracer_records_nothing():
    tr = harness.Tracer("r", enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


def test_enabled_tracer_nests_and_dumps(tmp_path):
    tr = harness.Tracer("run7", enabled=True)
    with tr.span("outer"):
        with tr.span("inner", query="q"):
            pass
    assert [(s["name"], s["parent"], s["run_id"]) for s in tr.spans] == [
        ("outer", None, "run7"),
        ("inner", 0, "run7"),
    ]
    path = tmp_path / "spans.json"
    tr.dump(str(path))
    dumped = json.loads(path.read_text())["spans"]
    assert dumped[1]["query"] == "q" and dumped[0]["self_s"] >= 0


def test_metric_names_follow_the_charset():
    import run

    names = list(run.END_TO_END) + list(run._per_layer_names())
    assert len(names) == len(set(names))
    assert all(harness.METRIC_NAME.match(n) for n in names)
    with pytest.raises(ValueError):
        harness.result_line(correct=True, attempted=1, failed=0, metrics={"bad name": (1.0, "s")})


def test_benchmark_json_matches_the_command():
    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run._per_layer_names()


def test_result_line_shape():
    line = harness.result_line(
        correct=True, attempted=3, failed=0, metrics={"latency_p50_s": (0.25, "s")}
    )
    assert json.loads(line) == {
        "correct": True,
        "attempted": 3,
        "failed": 0,
        "metrics": {"latency_p50_s": {"value": 0.25, "unit": "s"}},
    }


def test_git_tree_hash_matches_git_layout(tmp_path):
    (tmp_path / "a.py").write_text("x = 1\n")
    (tmp_path / "pkg").mkdir()
    (tmp_path / "pkg" / "b.py").write_text("")
    (tmp_path / "__pycache__").mkdir()
    (tmp_path / "__pycache__" / "a.cpython-311.pyc").write_bytes(b"junk")
    (tmp_path / "empty").mkdir()
    # The object ids `git add -A && git write-tree` gives for this layout.
    pkg_tree = "e96fdca55b40fd0f58dc1d5313731d0421ac0662"
    assert harness.git_tree_hash(str(tmp_path / "pkg")) == pkg_tree
    assert harness.git_tree_hash(str(tmp_path)) == "99b5bcfe0c1fd5c9ccd39552f83d444778d2ffb6"
    assert harness.git_tree_hash(str(tmp_path / "empty")) is None


def test_oracle_reads_batches_for_the_serial_replay():
    import pyarrow as pa

    cols = {"tid": [1, 2, 3], "seq": [0, 0, 0], "k": [5, 5, 99], "is_update": [False, True, True]}
    cols.update({f"new_f{j}": [None, "x", "y"] for j in range(oracle.N_FIELDS)})
    ops = oracle.ops_from_table(pa.table(cols))
    assert ops[1].new_value == ("x",) * oracle.N_FIELDS and ops[0].is_update is False
    # T2 writes 5 after T1 read it: WAR alone commits; key 99 is missing.
    kv, stats = drain({5: ("a",) * oracle.N_FIELDS}, ops, reorder=True)
    assert stats[0]["verdicts"] == [(1, True), (2, True), (3, True)]
    assert kv == {5: ("x",) * oracle.N_FIELDS}


def test_olap_normalize_is_order_insensitive():
    a = normalize(["b", "a"], [(1.0, "x"), (None, True)])
    b = normalize(["a", "b"], [(True, None), ("x", 1.0)])
    assert a == b


def test_datagen_is_seeded():
    t1 = datagen.tables(5, 0.001)
    t2 = datagen.tables(5, 0.001)
    t3 = datagen.tables(6, 0.001)
    assert set(t1) == set(datagen.TABLE_NAMES)
    assert all(t1[n].equals(t2[n]) for n in t1)
    assert not t1["lineitem"].equals(t3["lineitem"])
    assert t1["lineitem"].num_rows == 6000 and t1["documents"].num_rows == 500

