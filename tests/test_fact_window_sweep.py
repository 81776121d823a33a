"""Whole-registry DATA-AWARE window sweep (r4 verdict item 2): the
structural ``single_partition_sort_offenders`` flag can't see a Window
partitioned by a 5–20-value enum over a fact-sized input — parallelism
capped at key cardinality forever, the GROUPED version of the
single-partition-sort disease (r4 shipped seven of these). This sweep
measures every registered query's Window partition keys ON THE FIXTURE at
two scales (sf0.001 / sf0.01, 10x data) and fails on any window whose
input is fact-sized AND whose key ndv is both small and FLAT across the
growth — a data-scaled key (user_id: 15 → 150) passes, an enum
(event_type: 5 → 5) fails. Exempt automatically: WindowGroupLimit sites
(rank-filter top-k: each task pre-limits to k) and the functions.rank
running-sum windows (keyed by range-partition id — cardinality ∝
num_partitions by construction). Everything else needs a justified entry
below."""

from __future__ import annotations

from bishe_gpu_database_spark.plans import fact_windows, low_card_window_offenders
from bishe_gpu_database_spark.registry import REGISTRY
from tests.conftest import SF_MEDIUM

# Justified low-cardinality windows: each entry's window input is BOUNDED
# by construction — never proportional to the fact table — so capping its
# parallelism at the key cardinality caps a constant amount of work.
_LOW_CARD_OK: dict[str, str] = {
    "aria_install_snapshot": "per-key install window over ONE txn batch — "
    "input bounded by the <=200-txn epoch capacity (ops-per-txn x 200), "
    "never fact-sized; epoch cost ∝ batch is the Aria design point",
    "aria_missing_skip_flags": "same txn-batch-bounded install window",
    "embedding_matryoshka_recall": "eval harness: 8-query constant batch "
    "scored against the corpus; per-query windows rank |batch| x corpus "
    "pairs where |batch| is a benchmark constant — the production ANN "
    "path is ann_*_topk (bucketed/banded)",
    "events_burst_hourly": "window over the (event_type x hour) CELL "
    "table — dimension x time-sized (5 x ~720 at fixture), orders of "
    "magnitude below the fact at any SF",
    "timeseries_gap_fill": "LOCF window over the dense (event_type x "
    "hour) spine — same cell-table bound as events_burst_hourly",
    "skyline_pareto": "stage-1 local-prune groups = max(64, 8 x "
    "defaultParallelism) — cluster-scaled by construction (fixture ndv "
    "is flat because the fixture parallelism is fixed); ANY group count "
    "yields the identical final skyline (stage 1 sound, stage 2 exact), "
    "and the stage-2 global window is frontier-sized (see _SP_WINDOW_OK)",
}


def test_no_low_cardinality_fact_windows(spark, sweep_plans):
    offenders = {}
    for name, sp in sweep_plans.items():
        if name in _LOW_CARD_OK:
            continue
        small = sp.windows
        if not small:  # no partitioned windows at all — skip the 2nd build
            continue
        medium = fact_windows(REGISTRY[name].fn(spark, SF_MEDIUM))
        bad = low_card_window_offenders(small, medium)
        if bad:
            offenders[name] = bad
    assert not offenders, offenders
