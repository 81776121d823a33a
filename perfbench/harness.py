"""Spark-free building blocks of the benchmark: order statistics, the
tail-percentile rule, spans with self time, job-group counters, peak RSS,
the source-tree hash and the result line.

Everything here is importable without Spark; ``test_perfbench.py`` pins it.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import time
from contextlib import contextmanager

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
MIN_BEYOND_TAIL = 10  # samples that must lie above the reported tail


class PathGuardError(RuntimeError):
    """A workload left the engine path it exists to measure."""


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def nearest_rank(values: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile: (value, number of samples above it)."""
    s = sorted(values)
    idx = max(0, math.ceil(pct / 100 * len(s)) - 1)
    return s[idx], len(s) - idx - 1


def tail(
    values: list[float], pct: float, min_beyond: int = MIN_BEYOND_TAIL
) -> tuple[float, float, int]:
    """The latency tail as (value, percentile, samples beyond it).

    Each workload fixes its tail percentile ``pct`` so that at least
    ``min_beyond`` samples lie above it at its usual sample count; a
    faster program only adds samples, so the percentile stays put across
    commits. When a run has too few samples for that, the tail drops to
    the highest rank that still has ``min_beyond`` samples above it (or
    the median when even that does not exist), and the returned
    percentile says so."""
    n = len(values)
    value, beyond = nearest_rank(values, pct)
    if beyond >= min_beyond:
        return value, pct, beyond
    if n > min_beyond:
        rank = n - min_beyond  # 1-based rank with exactly min_beyond above it
        return sorted(values)[rank - 1], 100.0 * rank / n, min_beyond
    value, beyond = nearest_rank(values, 50.0)
    return value, 50.0, beyond


class Tracer:
    """In-memory spans (name, start, end, parent, run id) plus optional
    Spark job-group tagging. With ``enabled=False`` every span is a no-op,
    so the untraced run pays nothing and sets no job group."""

    def __init__(self, run_id: str, enabled: bool, sc=None) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = None
        if self.sc is not None:
            group = f"{self.run_id}:{rec['id']}"
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                rec.update(job_counts(self.sc, group))
                if self._stack:  # hand the thread back to the parent's group
                    parent = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(f"{self.run_id}:{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": with_self_time(self.spans)}, fh)


def job_counts(sc, group: str) -> dict:
    """Jobs, stages that ran tasks, tasks and failed tasks of one job group,
    read from Spark's status tracker right after the group's work ends."""
    st = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    seen: set = set()
    for jid in st.getJobIdsForGroup(group):
        jobs += 1
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            si = st.getStageInfo(sid)
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue  # skipped (shuffle reused) or evicted from the store
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def with_self_time(spans: list[dict]) -> list[dict]:
    """Copy of ``spans`` where each carries ``self_s``: its duration minus
    the part of its interval covered by its direct children."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append({**s, "self_s": (s["end"] - s["start"]) - covered})
    return out


def reset_peak_rss() -> bool:
    """Reset this process's RSS high-water mark to its current RSS (Linux
    ``clear_refs`` code 5), so a later ``peak_rss_mb()`` covers only what
    ran since. False when the kernel refuses."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb(pid: int | str = "self") -> float:
    """High-water RSS of a process (default: this one) in MiB, from /proc;
    0 when the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


_IGNORED = re.compile(r"^(__pycache__|.*\.pyc)$")


def git_tree_hash(path: str) -> str | None:
    """The object id ``git rev-parse HEAD:<path>`` gives for a clean
    checkout, computed from the files (the benchmark may run where there is
    no git repository). Skips the names the repo ignores inside packages;
    None for a directory git would not track (nothing left in it)."""
    entries = []
    for name in os.listdir(path):
        if _IGNORED.match(name):
            continue
        full = os.path.join(path, name)
        if os.path.isdir(full):
            sub = git_tree_hash(full)
            if sub is not None:
                entries.append((name + "/", b"40000", name, bytes.fromhex(sub)))
        else:
            with open(full, "rb") as fh:
                data = fh.read()
            mode = b"100755" if os.stat(full).st_mode & 0o111 else b"100644"
            oid = hashlib.sha1(b"blob %d\0" % len(data) + data).digest()
            entries.append((name, mode, name, oid))
    if not entries:
        return None
    body = b"".join(m + b" " + n.encode() + b"\0" + oid for _, m, n, oid in sorted(entries))
    return hashlib.sha1(b"tree %d\0" % len(body) + body).hexdigest()


def result_line(*, correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The benchmark's last stdout line. ``metrics`` maps name to
    (value, unit)."""
    for name in metrics:
        if not METRIC_NAME.match(name):
            raise ValueError(f"bad metric name {name!r}")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    )
